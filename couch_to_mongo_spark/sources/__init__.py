from couch_to_mongo_spark.sources.changes import (  # noqa: F401
    infer_feed_schema,
    read_changes_stream,
)
