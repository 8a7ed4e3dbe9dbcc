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

One path, one shuffle (:func:`merge_batch`), through the one bucketed
write every writer shares (:func:`write_winners`):
1. ``bucket_partitioned_lww``: repartition by bucket, then window-LWW the
   batch to one row per key inside those partitions (dedup-before-write
   bounds hot-conversation skew);
2. post-dedup transform (text normalizer) + poison quarantine, the
   ``_deleted`` stamp, alignment to the evolved table schema;
3. a key sort inside the bucket partitions, ``write_bucketed`` one
   key-sorted delta file per touched bucket;
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
from couch_to_mongo_spark.tableformat import BUCKET_COL, SEQ_COL, LakeTable

# the merge key: every table is keyed and bucketed by it
KEY_COLS = ("conv_id", "turn_idx")
# engine-managed columns stored in the table alongside the payload
REV_COL = "_rev"
DELETED_COL = "_deleted"
ENGINE_COLS = (SEQ_COL, REV_COL, DELETED_COL)
# transient columns never persisted
TRANSIENT_COLS = ("op", "seq", "rev_gen", BUCKET_COL)
# the LWW order of stored rows (with_rev_gen supplies rev_gen)
STORED_ORDER = [SEQ_COL, "rev_gen", REV_COL]


def fold_stored_rows(df: DataFrame) -> DataFrame:
    """The read-side stored-row LWW fold: one row per key, the winner by
    (_seq, rev generation, _rev). Tombstone winners are KEPT — the
    change-feed pre-state needs them; :func:`resolve_live_state` drops
    them after the fold."""
    df = with_rev_gen(df, rev_col=REV_COL)
    return lww_dedup(df, list(KEY_COLS), STORED_ORDER).drop("rev_gen")


def resolve_live_state(df: DataFrame) -> DataFrame:
    """Merge-on-read resolution of raw stored rows to live state:
    :func:`fold_stored_rows`, then tombstone winners and engine columns
    dropped. Any per-conv pre-filter on ``df`` composes safely: LWW is
    per (conv_id, turn_idx) key, so dropping whole conversations before
    the fold cannot change any surviving key's winner."""
    if SEQ_COL in df.columns:
        df = fold_stored_rows(df)
    if DELETED_COL in df.columns:
        df = drop_tombstones(df)
    return df.drop(*[c for c in ENGINE_COLS if c in df.columns])


def drop_tombstones(df: DataFrame) -> DataFrame:
    return df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))


def write_winners(
    table: LakeTable,
    rows: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    snapshot_hint: str,
    after_dedup=None,
) -> tuple[dict[int, list[str]], int, dict[str, list]]:
    """The one bucketed write behind merge, bootstrap, compaction and
    rescale: the LWW winners of ``rows`` (by ``order_cols``) as one
    key-sorted file per bucket of an ``n_buckets`` layout, uncommitted.
    ``order_cols`` may name ``rev_gen``, derived here from ``_rev``.
    Returns (new_files, rows, per_file_stats) for the caller's commit.

    ``bucket_partitioned_lww`` is the one shuffle; ``after_dedup`` runs on
    the winners and keeps ``_bucket``. ``_bucket`` leads the key sort: the
    partitioned writer requires that ordering and would otherwise add its
    own sort on ``_bucket`` alone. Spark drops the key sort after the
    window; after a Python transform it replaces the writer's sort."""
    rows = with_rev_gen(rows, rev_col=REV_COL)
    out = bucket_partitioned_lww(rows, list(KEY_COLS), order_cols, n_buckets)
    if after_dedup is not None:
        out = after_dedup(out)
    out = out.select(*[c for c in out.columns if c not in TRANSIENT_COLS], BUCKET_COL)
    new_files = table.write_bucketed(
        out.sortWithinPartitions(BUCKET_COL, *KEY_COLS), snapshot_hint=snapshot_hint
    )
    n_rows, per_file = table.file_stats(new_files)
    return new_files, n_rows, per_file


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

    # the source seq range rides along the write as observed metrics
    src_range = Observation()
    b = batch_df.observe(
        src_range, F.min("seq").alias("seq_min"), F.max("seq").alias("seq_max")
    )
    if REV_COL not in b.columns:
        b = b.withColumn(REV_COL, F.lit(None).cast("string"))
    evolved, n_poison, poison_cache = snap.schema, 0, None

    def finish(w: DataFrame) -> DataFrame:
        nonlocal evolved, n_poison, poison_cache
        if transform_after_dedup is not None:
            # on winners only: a Python kernel runs on n_keys rows, not n_events
            w = transform_after_dedup(w)
        if POISON_COL in w.columns:
            # a poison-isolating transform (operators/poison.py): quarantine
            # the rows it could not process, keep the healthy remainder — the
            # reference's insertMany bisection (Mongo.java:250-261)
            if dead_letter is None:
                raise ValueError(f"transform produced {POISON_COL} but no dead_letter log given")
            poison_cache = w.persist()
            n_poison = dead_letter.append(
                poison_cache.where(F.col(POISON_COL).isNotNull()), run_id, batch_id
            )
            w = poison_cache.where(F.col(POISON_COL).isNull()).drop(POISON_COL)
        w = w.withColumn(DELETED_COL, F.col("op") == F.lit("d")).withColumnRenamed(
            "seq", SEQ_COL
        )
        payload = [f for f in w.schema.fields if f.name not in TRANSIENT_COLS + ENGINE_COLS]
        evolved = evolve_schema(snap.schema, with_engine_schema(T.StructType(payload)))
        # rows keep their bucket partition and their _bucket value
        return align_to_schema(w, T.StructType([*evolved.fields, w.schema[BUCKET_COL]]))

    try:
        delta, rows, per_file = write_winners(
            table, b, ["seq", "rev_gen", REV_COL], snap.n_buckets,
            f"s{snap.version + 1:08d}", after_dedup=finish,
        )
    finally:
        if poison_cache is not None:
            poison_cache.unpersist()
    touched = sorted(delta.keys())
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

