from couch_to_mongo_spark.functions.normalize import (  # noqa: F401
    normalize_text,
    normalize_text_py,
)
from couch_to_mongo_spark.functions.transcripts import (  # noqa: F401
    pack_sequences,
    render_conversations,
    turn_boilerplate,
)
