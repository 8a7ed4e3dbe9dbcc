"""Phase-1 bulk snapshot copy (SURVEY.md §3.1).

The reference's bulk phase partitions the sorted _id space into
couch_batch_size ranges and fans range-scans out to a thread pool, bulk-
inserting with an exists-in-sink skip (reference: Couch.java:106-189,
230-318; Mongo.java:189-267). In Spark the whole phase is one declarative
job — scan → normalize → stamp → dedup-by-key → bucketed write → single
snapshot commit — with partitioning owned by the shuffle on ``bucket(conv_id)``
instead of a hand-built TreeMap of key ranges. Session lifecycle
("start"/"end" metadata ops, Mongo.java:311-321) maps to the lineage rows
plus the atomic snapshot commit itself: a killed bootstrap leaves version 0
untouched (no partial state), so resume == rerun.

Bootstrap rows are stamped ``_seq = BOOTSTRAP_SEQ`` (-1) and
``_rev = '0-bootstrap'`` so every real CDC event (seq >= 0, rev_gen >= 1)
wins LWW against the bootstrap copy. The normalized, stamped snapshot then
goes through the one bucketed write (``merge.write_winners``): bucket
repartition, window dedup by key, key sort, one file per bucket — the
layout compaction produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from couch_to_mongo_spark.functions.normalize import normalize_text
from couch_to_mongo_spark.operators.merge import (
    DELETED_COL,
    KEY_COLS,
    REV_COL,
    SEQ_COL,
    MergeResult,
    _fenced_result,
    with_engine_schema,
    write_winners,
)
from couch_to_mongo_spark.operators.schema_evolution import align_to_schema
from couch_to_mongo_spark.streaming.lineage import LineageLog
from couch_to_mongo_spark.tableformat import LakeTable

import os

# below every real change-feed seq (>= 0)
BOOTSTRAP_SEQ = -1


def bulk_bootstrap(
    spark: SparkSession,
    table_path: str,
    source_df: DataFrame,
    n_buckets: int = 16,
    run_id: str = "bootstrap",
    normalize: bool = True,
) -> tuple[LakeTable, MergeResult]:
    """Copy a full source snapshot into a fresh table (one commit).
    Overlapping source rows of one key resolve to the latest ``ts`` when
    the source has one."""
    payload_schema = source_df.schema
    table = LakeTable.create(
        spark, table_path, with_engine_schema(payload_schema), n_buckets=n_buckets
    )
    lineage = LineageLog(os.path.join(table_path, "_lineage"))
    if table.is_batch_committed(run_id, 0):
        result = _fenced_result(table, run_id, 0)
        lineage.backfill(run_id, 0, result)
        return table, result

    df = source_df
    if normalize and "text" in df.columns:
        df = df.withColumn("text", normalize_text(F.col("text")))
    df = align_to_schema(
        df.withColumn(SEQ_COL, F.lit(BOOTSTRAP_SEQ).cast("long"))
        .withColumn(REV_COL, F.lit("0-bootstrap"))
        .withColumn(DELETED_COL, F.lit(False)),
        table.snapshot().schema,
    )
    # defensive dedup: source snapshots can overlap at range boundaries
    # (the reference's boundary-overlap dedup, Couch.java:320-341 / P4)
    order_cols = ["ts"] if "ts" in df.columns else [KEY_COLS[0]]
    new_files, n_rows, per_file = write_winners(
        table, df, order_cols, n_buckets, snapshot_hint="s00000001"
    )
    result = MergeResult(
        skipped=False,
        n_inserts=n_rows,
        rows_applied=n_rows,
        seq_min=BOOTSTRAP_SEQ,
        seq_max=BOOTSTRAP_SEQ,
        touched_buckets=len(new_files),
    )
    snap = table.commit(
        new_files,
        list(new_files.keys()),
        result.to_lineage(),
        run_id=run_id,
        batch_id=0,
        new_file_stats=per_file,
    )
    result.snapshot_id = snap.snapshot_id
    lineage.append_result(run_id, 0, result)
    return table, result
