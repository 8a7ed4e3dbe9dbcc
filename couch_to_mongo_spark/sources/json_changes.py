"""JSON change-feed source with corrupt-record quarantine.

The reference's feed entries are JSON (`_changes` rows parsed with
``Document.parse`` — reference: ChangeFeedClient.java:110, Couch.java:295)
and poison documents are isolated by bisecting a failed insertMany down to
the single bad doc (Mongo.java:250-261 logs the bad ``_id``). The Spark
rendering needs no bisection: ``from_json`` with a
``columnNameOfCorruptRecord`` column classifies every row in one pass —
good rows flow to MERGE, corrupt ones append to a dead-letter table with
the raw payload for post-hoc audit (same outcome as the reference's
per-doc error metadata, Mongo.java:564-593).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couch_to_mongo_spark.schemas import CHANGE_SCHEMA

CORRUPT_COL = "_corrupt_record"


def parse_json_changes(
    raw: DataFrame,
    schema: T.StructType = CHANGE_SCHEMA,
    raw_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Split a raw JSON-lines change feed into (good, dead_letter).

    good: typed change rows (seq present and parsable — the reference drops
    seq-less entries, ChangeFeedClient.java:142-145 / F3).
    dead_letter: raw line + reason, for quarantine append.
    """
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    parsed = raw.withColumn(
        "_p",
        F.from_json(
            F.col(raw_col),
            with_corrupt,
            {"columnNameOfCorruptRecord": CORRUPT_COL, "mode": "PERMISSIVE"},
        ),
    )
    flat = parsed.select(F.col(raw_col).alias("_raw"), "_p.*")
    is_bad = F.col(CORRUPT_COL).isNotNull() | F.col("seq").isNull()
    good = flat.where(~is_bad).drop("_raw", CORRUPT_COL)
    dead = flat.where(is_bad).select(
        F.col("_raw").alias("raw"),
        F.when(F.col(CORRUPT_COL).isNotNull(), F.lit("malformed_json"))
        .otherwise(F.lit("missing_seq"))
        .alias("reason"),
    )
    return good, dead


def read_json_changes_batch(
    spark: SparkSession, changes_dir: str, schema: T.StructType = CHANGE_SCHEMA
) -> tuple[DataFrame, DataFrame]:
    raw = spark.read.text(os.path.join(changes_dir, "*.jsonl"))
    return parse_json_changes(raw, schema)


class DeadLetterLog:
    """Append-only quarantine table (one tiny parquet per batch)."""

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)

    def append(self, dead: DataFrame, run_id: str, batch_id: int) -> int:
        import uuid

        rows = dead.count()
        if rows:
            # uuid suffix: a crash-replayed batch re-appends to a fresh dir
            # instead of failing on the deterministic path (audit table —
            # duplicate quarantine rows are harmless and self-identifying
            # via (run_id, batch_id))
            out = os.path.join(
                self.path, f"dead-{run_id}-{batch_id:08d}-{uuid.uuid4().hex[:8]}"
            )
            dead.withColumn("run_id", F.lit(run_id)).withColumn(
                "batch_id", F.lit(batch_id)
            ).coalesce(1).write.mode("errorifexists").parquet(out)
        return rows

    def read(self, spark: SparkSession) -> DataFrame:
        # mergeSchema: the log mixes producers (raw-JSON dead letters vs
        # poison-quarantined typed rows) with different column sets
        return spark.read.option("mergeSchema", "true").parquet(
            os.path.join(self.path, "*", "*.parquet")
        )

    def summary(self, spark: SparkSession) -> DataFrame:
        """Per-(run_id, batch_id, reason) quarantine counts — the operator's
        triage view."""
        df = self.read(spark)
        reason_cols = [c for c in ("reason", "_poison_reason") if c in df.columns]
        reason = (
            F.coalesce(*[F.col(c) for c in reason_cols])
            if reason_cols
            else F.lit(None).cast("string")
        )
        return (
            df.groupBy("run_id", "batch_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sort_array(F.collect_set(reason)).alias("reasons"),
            )
            .orderBy("run_id", "batch_id")
        )

    def rows_for(
        self, spark: SparkSession, run_id: str, batch_id: int
    ) -> DataFrame:
        return self.read(spark).where(
            (F.col("run_id") == F.lit(run_id)) & (F.col("batch_id") == F.lit(batch_id))
        )

    def replay_into(
        self,
        table,
        run_id: str,
        batch_id: int,
        transform_after_dedup=None,
        new_run_id: str | None = None,
        dead_letter=None,
    ):
        """Re-apply one batch's quarantined rows after the kernel is fixed —
        closes the poison-isolation loop (the reference's analogue is
        re-running the migration for the logged bad _ids, Mongo.java:250-261).

        Raw-JSON dead letters are re-parsed first; poison-quarantined typed
        rows are replayed as-is (their values were never transformed).
        The merge runs under a fresh run_id (default ``dlq-<run>-<batch>``)
        so fencing of the original stream is untouched and the replay is
        itself idempotent. Pass ``dead_letter`` to re-quarantine rows that
        still fail the (supposedly fixed) transform."""
        spark = table.spark
        df = self.rows_for(spark, run_id, batch_id)
        if "raw" in df.columns and "seq" not in df.columns:
            df, _ = parse_json_changes(df.select(F.col("raw").alias("value")))
        drop = [
            c
            for c in ("_poison_reason", "reason", "raw", "run_id", "batch_id",
                      "rev_gen", "_bucket")
            if c in df.columns
        ]
        df = df.drop(*drop)
        from couch_to_mongo_spark.operators.merge import merge_batch

        return merge_batch(
            table,
            df,
            run_id=new_run_id or f"dlq-{run_id}-{batch_id}",
            batch_id=0,
            transform_after_dedup=transform_after_dedup,
            dead_letter=dead_letter,
        )
