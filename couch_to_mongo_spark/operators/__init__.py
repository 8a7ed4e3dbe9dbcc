from couch_to_mongo_spark.operators.dedup import (  # noqa: F401
    lww_dedup,
    with_rev_gen,
)
from couch_to_mongo_spark.operators.merge import MergeResult, merge_batch  # noqa: F401
from couch_to_mongo_spark.operators.schema_evolution import (  # noqa: F401
    align_to_schema,
    evolve_schema,
)
