"""Change data feed (CDF): row-level semantic changes emitted per MERGE.

``read_appended`` exposes the *physical* changelog (raw multi-version delta
rows); downstream consumers usually want the *semantic* one — which keys
were inserted, updated (with before/after images), or deleted by each
batch. This is Delta Lake's Change Data Feed shape: one row per change,
same columns as the table, plus

- ``_change_type``: insert | update_preimage | update_postimage | delete
- ``_batch_id`` / ``_run_id``: the micro-batch that produced the change
  (committed-ness is determined against the table's fence map — the fence
  entry IS the commit record, so no per-row snapshot id is stored)

Scale shape: the feed is O(changed rows) per batch — one join of the
batch's written delta files against the touched buckets' LWW-resolved
pre-state, run only for merges with a feed attached (merge_batch
``cdf=``), and appended as parquet. A 10^10-event replay emits 10^10
feed rows total, written incrementally; consumers tail it like any
append-only table.

Idempotence contract: each batch writes to a DETERMINISTIC directory
``<root>/run=<run_id>/batch=<batch_id>`` with overwrite semantics, BEFORE
the snapshot commit. A crash-replay of the batch rewrites byte-identical
content (the merge is deterministic given the batch); a batch whose commit
never landed leaves orphan CDF rows, so exact consumers anti-join
``_run_id/_batch_id`` against the table's fences (``committed_only=True``
on :meth:`ChangeFeedLog.read` does this). This mirrors Delta writing CDF
files inside the same commit — here the fence map is the commit record.

Reference parity: couch-to-mongo exposes no change output at all (its sink
is the final Mongo collection); CDF is part of the lakehouse surface above
it (SURVEY.md §2.1 S7 metadata sink is the batch-level cousin).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

CHANGE_TYPE_COL = "_change_type"
CDF_META_COLS = (CHANGE_TYPE_COL, "_run_id", "_batch_id")

__all__ = ["ChangeFeedLog", "CHANGE_TYPE_COL", "CDF_META_COLS"]


class ChangeFeedLog:
    """Append-only parquet change feed, one directory per (run, batch)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _dir(self, run_id: str, batch_id: int) -> str:
        return os.path.join(self.root, f"run={run_id}", f"batch={batch_id:08d}")

    def append(self, changes: DataFrame, run_id: str, batch_id: int) -> None:
        """Overwrite-write this batch's changes (idempotent under replay)."""
        changes.write.mode("overwrite").parquet(self._dir(run_id, batch_id))

    def read(
        self,
        table=None,
        committed_only: bool = True,
    ) -> DataFrame:
        """The whole feed; with ``committed_only`` (needs ``table``), rows of
        batches at-or-below each run's fenced high-water mark only — orphan
        rows from a crashed, never-committed batch are excluded. A feed
        that was never written (no --emit-cdf, or no batch yet) reads as an
        empty frame with the FULL feed schema when ``table`` is given
        (table columns minus the tombstone flag, plus the meta columns) —
        so consumers selecting table columns, or unioning the empty read
        with a later non-empty one, behave identically in the empty case.
        Without a table the empty read is meta-columns-only (the schema is
        unknowable)."""
        import glob

        if not glob.glob(os.path.join(self.root, "run=*", "batch=*")):
            # a table handle whose path holds no committed snapshot yet
            # reads like table=None (the feed row schema is unknowable)
            if table is not None and not table.exists():
                table = None
            if table is not None:
                from pyspark.sql import types as T

                from couch_to_mongo_spark.operators.merge import DELETED_COL

                fields = [
                    f
                    for f in table.snapshot(materialize=False).schema.fields
                    if f.name != DELETED_COL
                ] + [
                    T.StructField(CHANGE_TYPE_COL, T.StringType(), True),
                    T.StructField("_run_id", T.StringType(), True),
                    T.StructField("_batch_id", T.IntegerType(), True),
                ]
                return self.spark.createDataFrame([], T.StructType(fields))
            return self.spark.createDataFrame(
                [], f"{CHANGE_TYPE_COL} string, _run_id string, _batch_id int"
            )
        df = self.spark.read.option("basePath", self.root).parquet(
            os.path.join(self.root, "run=*", "batch=*")
        )
        # drop the directory-inferred partition columns: they duplicate the
        # stored _run_id/_batch_id and would make the feed schema differ
        # from the (directory-less) empty-feed read
        df = df.drop("run", "batch")
        if not committed_only:
            return df
        if table is None:
            raise ValueError("committed_only read requires the table (fence map)")
        fences = table.snapshot(materialize=False).fences  # {run_id: [max_batch, snapshot_id]}
        if not fences:
            return df.limit(0)
        cond = None
        for run, (hi, _sid) in fences.items():
            c = (F.col("_run_id") == F.lit(run)) & (F.col("_batch_id") <= F.lit(hi))
            cond = c if cond is None else (cond | c)
        return df.where(cond)

    def expire(self, table, keep_batches: int = 1000) -> list[str]:
        """Feed retention: drop batch directories more than ``keep_batches``
        below each run's fenced high-water mark — a feed is otherwise
        append-forever. Consumers must stay within the retained lag (same
        contract as snapshot retention for `read_appended`). Batches of a
        run with no fence entry are kept (they are either orphans worth
        inspecting or a run whose first commit is in flight). Returns the
        removed directories."""
        return _expire_impl(self.root, table.snapshot(materialize=False).fences, keep_batches)


def _expire_impl(root: str, fences: dict, keep_batches: int) -> list[str]:
    import glob as _glob
    import shutil

    removed = []
    for run_dir in _glob.glob(os.path.join(root, "run=*")):
        run = os.path.basename(run_dir)[len("run="):]
        hi = fences.get(run)
        if hi is None:
            continue  # never-committed run: keep for inspection
        for bdir in _glob.glob(os.path.join(run_dir, "batch=*")):
            bid = int(os.path.basename(bdir)[len("batch="):])
            if bid <= hi[0] - keep_batches:
                shutil.rmtree(bdir, ignore_errors=True)
                removed.append(bdir)
    return removed


def feed_as_stream(
    spark: SparkSession,
    root: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The change feed as a Structured Streaming source — the CDC-OUT leg:
    a downstream job tails the feed directory exactly like this engine
    tails the upstream `_changes` log, so replication chains compose
    (upstream feed -> table -> CDF -> replica -> ...). ``schema`` is the
    feed row schema (table columns + CDF meta columns); the parquet file
    source provides checkpointed, at-least-once delivery, and the feed's
    per-(run,batch) overwrite idempotence plus the consumer's own LWW fold
    make the chain exactly-once end to end."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.option("basePath", root).parquet(
        os.path.join(root, "run=*", "batch=*")
    )
    # same schema as the batch read(): the directory-inferred run/batch
    # partition columns duplicate the stored _run_id/_batch_id — drop them
    # so batch and streaming consumers see ONE feed schema
    return df.drop("run", "batch")


def classify_changes(
    batch: DataFrame,
    existing_winners: DataFrame,
    key_cols: list[str],
    deleted_col: str,
    payload_cols: list[str],
    run_id: str,
    batch_id: int,
    seq_col: str = "_seq",
    rev_col: str = "_rev",
) -> tuple[DataFrame, DataFrame]:
    """Build the CDF rows for one merged batch. Returns ``(changes,
    cache)`` — the caller MUST unpersist ``cache`` after writing: the four
    change-type branches project the same classification join, and without
    the persist each branch of the written union re-derives the existing-
    bucket scan + window dedup (the repo's exchange-reuse rule: one
    materialization, many consumers).

    ``batch``: LWW-deduped batch rows (one per key, tombstones included).
    ``existing_winners``: LWW-RESOLVED pre-state of the touched buckets,
    tombstone winners INCLUDED (full payload + the deleted flag).

    Emits (Delta CDF semantics), ONLY for batch rows that actually WIN the
    LWW against the resolved pre-state — a redelivered or out-of-order row
    whose (seq, rev_gen, _rev) does not exceed the winner changes nothing
    in the table, so it must emit nothing in the feed (otherwise a replay
    under a new run_id would append stale post-images and a feed consumer
    would diverge from the table). Comparing against the RESOLVED winner
    (not just live rows) also covers tombstoned keys: a stale row arriving
    under an existing tombstone loses and emits nothing, while a genuinely
    newer row re-inserting a deleted key emits an insert:
      - insert            -> after image   (batch wins; key absent or dead)
      - update_preimage   -> before image  (batch wins over a live row)
      - update_postimage  -> after image   (batch wins over a live row)
      - delete            -> before image  (tombstone wins over a live row),
                             with the TOMBSTONE's ``_seq``/``_rev``
    A tombstone over an absent/already-dead key is a state no-op and emits
    nothing (same rule as the n_deletes stat). The delete row orders like
    the tombstone so a consumer folding the feed by LWW (seq, rev) places
    it after the row it deletes — with the pre-image's own ordering
    columns the two would tie."""
    from couch_to_mongo_spark.operators.dedup import with_rev_gen

    cols = [c for c in payload_cols if c != deleted_col]
    is_del = F.coalesce(F.col(deleted_col), F.lit(False))

    wb = with_rev_gen(batch, rev_col=rev_col)
    we = with_rev_gen(existing_winners, rev_col=rev_col)
    ex = we.select(
        *key_cols,
        F.col("rev_gen").alias("_pre_rev_gen"),
        F.col(deleted_col).alias("_pre_del"),
        *[F.col(c).alias(f"_pre_{c}") for c in cols if c not in key_cols],
    ).withColumn("_m", F.lit(1))
    j = wb.join(ex, key_cols, "left").persist()
    matched = F.col("_m").isNotNull()
    pre_live = matched & ~F.coalesce(F.col("_pre_del"), F.lit(False))

    def _ord(seq, gen, rev):
        # null-safe LWW ordering tuple (matches the dedup kernel's
        # [seq, rev_gen, rev] descending sort)
        return F.struct(
            F.col(seq).alias("s"),
            F.coalesce(F.col(gen), F.lit(-1)).alias("g"),
            F.coalesce(F.col(rev), F.lit("")).alias("r"),
        )

    wins = ~matched | (
        _ord(seq_col, "rev_gen", rev_col)
        > _ord(f"_pre_{seq_col}", "_pre_rev_gen", f"_pre_{rev_col}")
    )

    def image(df, change_type, pre_cols=()):
        sel = list(key_cols) + [
            (F.col(f"_pre_{c}") if c in pre_cols else F.col(c)).alias(c)
            for c in cols
            if c not in key_cols
        ]
        return df.select(*sel).withColumn(CHANGE_TYPE_COL, F.lit(change_type))

    inserts = image(j.where(~is_del & wins & ~pre_live), "insert")
    upd_post = image(j.where(~is_del & wins & pre_live), "update_postimage")
    upd_pre = image(j.where(~is_del & wins & pre_live), "update_preimage", cols)
    deletes = image(
        j.where(is_del & wins & pre_live),
        "delete",
        [c for c in cols if c not in (seq_col, rev_col)],
    )

    out = inserts.unionByName(upd_pre).unionByName(upd_post).unionByName(deletes)
    out = out.withColumn("_run_id", F.lit(run_id)).withColumn(
        "_batch_id", F.lit(batch_id)
    )
    return out, j
