"""MERGE INTO as a merge-on-read LWW append (SURVEY.md §2.1 S6, §2.6 JN3).

Semantics of the reference's upsert sink — unordered bulkWrite of
``UpdateOneModel({_id}, {$set: doc}, upsert=true)`` (reference:
Mongo.java:115-187) — generalized to the composite key ``(conv_id,
turn_idx)`` and extended with deletes (which the reference silently drops,
SURVEY.md §2.10):

    MERGE INTO target t USING batch s
    ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND s.op = 'd' THEN DELETE
    WHEN MATCHED AND (s._seq, s.rev) > (t._seq, t.rev) THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *

Physical plan (no Iceberg/Delta jars in this image, so merge-on-read from
scratch), chosen to be **order-insensitive**: the table stores every
key's LWW winner per batch plus tombstones (``_deleted``) as append-only
delta files, and readers resolve

    state = LWW( all delta rows )

— so MERGE never reads the table: no anti-join, no conditional update
logic, write cost O(batch). Replaying any batch, in any order,
reconverges to the same state; deletes are durable tombstones (purged by
compaction, operators/compact.py, which also folds the deltas back to one
key-sorted file per bucket), fixing the reference's delete-resurrection
gap.

One path, one shuffle (:func:`merge_batch`):
1. ``bucket_partitioned_lww``: repartition by bucket, then window-LWW the
   batch to one row per key inside those partitions (dedup-before-write
   bounds hot-conversation skew);
2. post-dedup transform (text normalizer) + poison quarantine;
3. align to the evolved table schema, ``write_bucketed`` one delta file
   per touched bucket;
4. lineage from the write itself: the source seq range from an
   ``Observation`` on the raw batch, rows applied from the parquet
   footers — no extra Spark job;
5. snapshot committed atomically with lineage and the (run_id, batch_id)
   fence entry.

Insert/update/delete classification needs the pre-state, so only a
change-feed consumer pays for it (``cdf=``).
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, fields
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couch_to_mongo_spark.operators.cdf import CHANGE_TYPE_COL, classify_changes
from couch_to_mongo_spark.operators.dedup import (
    bucket_partitioned_lww,
    lww_dedup,
    with_rev_gen,
)
from couch_to_mongo_spark.operators.poison import POISON_COL
from couch_to_mongo_spark.operators.schema_evolution import align_to_schema, evolve_schema
from couch_to_mongo_spark.tableformat import BUCKET_COL, SEQ_COL, LakeTable, bucket_expr

# the merge key: every table is keyed and bucketed by it
KEY_COLS = ("conv_id", "turn_idx")
# engine-managed columns stored in the table alongside the payload
REV_COL = "_rev"
DELETED_COL = "_deleted"
ENGINE_COLS = (SEQ_COL, REV_COL, DELETED_COL)
# transient columns never persisted
TRANSIENT_COLS = ("op", "seq", "rev_gen", BUCKET_COL)


def fold_stored_rows(df: DataFrame) -> DataFrame:
    """The stored-row LWW fold: one row per key, the winner by (_seq,
    rev generation, _rev). Tombstone winners are KEPT — compaction,
    rescale and the change-feed pre-state need them (an out-of-order
    replay of an old update must still lose to the tombstone)."""
    df = with_rev_gen(df, rev_col=REV_COL)
    return lww_dedup(df, list(KEY_COLS), [SEQ_COL, "rev_gen", REV_COL]).drop("rev_gen")


def resolve_live_state(df: DataFrame) -> DataFrame:
    """Merge-on-read resolution of raw stored rows to live state:
    :func:`fold_stored_rows`, then tombstone winners and engine columns
    dropped. Any per-conv pre-filter on ``df`` composes safely: LWW is
    per (conv_id, turn_idx) key, so dropping whole conversations before
    the fold cannot change any surviving key's winner."""
    if SEQ_COL in df.columns:
        df = fold_stored_rows(df)
    if DELETED_COL in df.columns:
        df = df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
    return df.drop(*[c for c in ENGINE_COLS if c in df.columns])


def engine_fields() -> list[T.StructField]:
    return [
        T.StructField(SEQ_COL, T.LongType(), True),
        T.StructField(REV_COL, T.StringType(), True),
        T.StructField(DELETED_COL, T.BooleanType(), True),
    ]


def with_engine_schema(payload: T.StructType) -> T.StructType:
    """Payload schema + engine columns — the physical table schema."""
    return T.StructType(list(payload.fields) + engine_fields())


@dataclass
class MergeResult:
    skipped: bool
    snapshot_id: int | None = None
    # insert/update/delete classification: filled only when a change feed
    # is attached (it needs the pre-state); None otherwise
    n_inserts: int | None = None
    n_updates: int | None = None
    n_deletes: int | None = None
    rows_applied: int = 0
    seq_min: int | None = None
    seq_max: int | None = None
    touched_buckets: int = 0
    n_poison: int = 0

    def to_lineage(self) -> dict[str, Any]:
        return asdict(self)


def merge_batch(
    table: LakeTable,
    batch_df: DataFrame,
    run_id: str,
    batch_id: int,
    transform_after_dedup=None,
    dead_letter=None,
    cdf=None,
) -> MergeResult:
    """Apply one change batch to the table, exactly-once under replay.

    ``batch_df`` columns: conv_id + turn_idx + op + seq + _rev (optional)
    + payload columns.

    Appends the LWW-deduped batch (tombstones included) as per-bucket
    delta files — write cost O(batch), never O(table); readers resolve
    multi-version rows with the same LWW ordering (:func:`read_state`) and
    compaction folds buckets back to one file. The whole apply is one
    Spark write (plan-asserted single shuffle:
    tests/test_plans.py::test_fast_merge_single_shuffle); lineage comes
    from that write: ``seq_min``/``seq_max`` are the raw SOURCE range
    (pre-dedup, the analogue of the reference's per-doc sequence-number
    audit, Mongo.java:535) observed on the batch as it streams through,
    ``rows_applied`` the written winners (tombstones included) from the
    parquet footers.

    ``cdf`` (a :class:`~couch_to_mongo_spark.operators.cdf.ChangeFeedLog`):
    emit row-level semantic changes (insert / update pre+post images /
    delete) for this batch, classified against the touched buckets'
    pre-state at the merge's base snapshot — read after the write, before
    the commit. Only then are ``n_inserts``/``n_updates``/``n_deletes``
    filled (they count the emitted changes).

    A fenced (already committed) batch returns ``skipped=True`` carrying
    the committing snapshot's lineage when the batch is the run's
    high-water batch (the only one a stream resume replays)."""
    if table.is_batch_committed(run_id, batch_id):
        return _fenced_result(table, run_id, batch_id)

    # metadata-only load: merge needs version/schema/n_buckets here
    snap = table.snapshot(materialize=False)
    n_buckets = snap.n_buckets

    # the source seq range rides along the write as observed metrics
    src_range = Observation()
    b = batch_df.observe(
        src_range, F.min("seq").alias("seq_min"), F.max("seq").alias("seq_max")
    )
    if REV_COL not in b.columns:
        b = b.withColumn(REV_COL, F.lit(None).cast("string"))
    b = with_rev_gen(b, rev_col=REV_COL)
    # Single-shuffle apply. The ONE exchange is the bucket repartition, done
    # FIRST; everything downstream reuses it: the partition keys are a
    # subset of the dedup window's partitionBy, so Catalyst plans the LWW
    # as Sort+WindowGroupLimit+Window with NO further exchange, and the
    # bucket-partitioned write streams straight out of the same partitions
    # (one file per touched bucket). The payload crosses the wire once.
    b = bucket_partitioned_lww(
        b, list(KEY_COLS), ["seq", "rev_gen", REV_COL], n_buckets
    )
    b, n_poison, poison_cache = _transform_and_quarantine(
        b, transform_after_dedup, dead_letter, run_id, batch_id
    )
    try:
        b = b.withColumn(DELETED_COL, F.col("op") == F.lit("d")).withColumnRenamed(
            "seq", SEQ_COL
        )
        payload_fields = [
            f
            for f in b.schema.fields
            if f.name not in TRANSIENT_COLS and f.name not in ENGINE_COLS
        ]
        evolved = evolve_schema(
            snap.schema, with_engine_schema(T.StructType(payload_fields))
        )
        # align drops the physical bucket column; the ROWS stay in their
        # bucket partitions (projections preserve partitioning), so the
        # partitionBy write still emits one file per bucket
        new_rows = align_to_schema(b, evolved).withColumn(
            BUCKET_COL, bucket_expr(KEY_COLS[0], n_buckets)
        )
        delta = table.write_bucketed(new_rows, snapshot_hint=f"s{snap.version + 1:08d}")
    finally:
        if poison_cache is not None:
            poison_cache.unpersist()
    touched = sorted(delta.keys())
    rows, per_file = table.file_stats(delta)
    result = MergeResult(
        skipped=False, rows_applied=rows, touched_buckets=len(touched), n_poison=n_poison
    )
    if touched or n_poison:
        # a batch that wrote and quarantined nothing was empty, and an
        # empty batch may be planned away entirely (empty local relation),
        # leaving the Observation without a row
        src = src_range.get
        result.seq_min, result.seq_max = src["seq_min"], src["seq_max"]
    if cdf is not None:
        result.n_inserts, result.n_updates, result.n_deletes = _emit_changes(
            table, cdf, delta, snap.version, evolved, run_id, batch_id
        )
    # append commit: rebases automatically under concurrent writers
    new_snap = table.commit(
        delta, touched, result.to_lineage(), new_schema=evolved,
        run_id=run_id, batch_id=batch_id, append=True,
        new_file_stats=per_file,
    )
    result.snapshot_id = new_snap.snapshot_id
    return result


def _fenced_result(table: LakeTable, run_id: str, batch_id: int) -> MergeResult:
    """The skip result of an already-committed batch, carrying the
    committing snapshot's lineage when it is still resolvable (the run's
    high-water batch, snapshot not expired)."""
    sid = table.fence_snapshot_id(run_id, batch_id)
    if sid is None:
        return MergeResult(skipped=True)
    try:
        lin = table.snapshot(sid).lineage
    except FileNotFoundError:  # expired by snapshot retention
        return MergeResult(skipped=True, snapshot_id=sid)
    names = {f.name for f in fields(MergeResult)} - {"skipped", "snapshot_id"}
    return MergeResult(
        skipped=True, snapshot_id=sid, **{k: v for k, v in lin.items() if k in names}
    )


def _emit_changes(
    table: LakeTable,
    cdf,
    delta: dict[int, list[str]],
    base_version: int,
    evolved: T.StructType,
    run_id: str,
    batch_id: int,
) -> tuple[int, int, int]:
    """Classify the just-written batch against the touched buckets' LWW-
    resolved pre-state at ``base_version`` and append the semantic change
    rows to ``cdf``. Returns (n_inserts, n_updates, n_deletes) — counts of
    the emitted changes, observed during the feed write.

    Runs after the write and before the commit: the batch side is read
    back from the freshly written delta files (the winners exactly as
    committed, no second dedup or transform pass), and the feed is written
    to a deterministic per-batch dir (overwrite) — a crash-replay rewrites
    identical content; orphan rows of a never-committed batch are excluded
    by fence-aware reads (ChangeFeedLog.read committed_only)."""
    if not delta:
        return 0, 0, 0
    batch = table.spark.read.schema(evolved).parquet(
        *[os.path.join(table.path, f) for fl in delta.values() for f in fl]
    )
    # RESOLVED winners incl. tombstones (see classify_changes docstring)
    pre = fold_stored_rows(
        align_to_schema(table.read_buckets(sorted(delta), version=base_version), evolved)
    )
    changes, cache = classify_changes(
        batch, pre, list(KEY_COLS), DELETED_COL, [f.name for f in evolved.fields], run_id, batch_id
    )
    counts = Observation()
    kind = F.col(CHANGE_TYPE_COL)
    changes = changes.observe(
        counts,
        *[
            F.count(F.when(kind == t, 1)).alias(t)
            for t in ("insert", "update_postimage", "delete")
        ],
    )
    try:
        cdf.append(changes, run_id, batch_id)
    finally:
        cache.unpersist()
    c = counts.get
    return c["insert"], c["update_postimage"], c["delete"]


def read_state(table: LakeTable, version: int | None = None) -> DataFrame:
    """The logical (public) table state: live rows, payload columns only
    (:func:`resolve_live_state` over every stored row). On a compacted
    table the fold is a no-op pass. A key filter on the result
    (``read_state(t).where(conv_id == c)``) reaches the parquet scan: LWW
    is per key, and the fold emits the keys from its group keys, so
    Catalyst pushes the predicate below the aggregate."""
    return resolve_live_state(table.read(version))


def _transform_and_quarantine(b, transform_after_dedup, dead_letter, run_id, batch_id):
    """Apply the post-dedup transform (e.g. the Arrow text normalizer) and,
    if it is poison-isolating (operators/poison.py), quarantine the rows it
    could not process and keep the healthy remainder — the Spark rendering
    of the reference's insertMany bisection (Mongo.java:250-261). Returns
    (df, n_poison, poison_cache); the caller unpersists the cache after the
    write materializes."""
    n_poison = 0
    poison_cache = None
    if transform_after_dedup is not None:
        # applied to winners only, downstream of the dedup, so a Python
        # kernel runs on n_keys rows across all cores rather than n_events
        b = transform_after_dedup(b)
    if POISON_COL in b.columns:
        if dead_letter is None:
            raise ValueError(
                f"transform produced {POISON_COL} but no dead_letter log given"
            )
        poison_cache = b.persist()
        poison = poison_cache.where(F.col(POISON_COL).isNotNull())
        n_poison = dead_letter.append(poison, run_id, batch_id)
        b = poison_cache.where(F.col(POISON_COL).isNull()).drop(POISON_COL)
    return b, n_poison, poison_cache
