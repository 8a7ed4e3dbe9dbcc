"""Compaction: fold merge-on-read delta files back to one key-sorted file
per bucket.

The merge-on-read write path (operators/merge.py) appends O(batch) delta
files per micro-batch; compaction amortizes the table rewrite over many
batches — each bucket is rewritten once per ``max_files_per_bucket``
batches instead of once per batch, so total write amplification is
O(table / threshold) per batch on average.

Tombstones survive compaction by default (an out-of-order replay of an
old update must still lose to the tombstone); ``purge_tombstones=True``
drops them — safe once no replayable batch predates the tombstone seq
(e.g. after checkpoint retention expiry), mirroring lake-format
delete-file retention rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from couch_to_mongo_spark.operators.merge import DELETED_COL, KEY_COLS, fold_stored_rows
from couch_to_mongo_spark.tableformat import BUCKET_COL, LakeTable, bucket_expr


def rewrite_key_sorted(
    table: LakeTable,
    folded: DataFrame,
    n_buckets: int,
    n_partitions: int,
    snapshot_hint: str,
) -> tuple[dict[int, list[str]], int, dict[str, list]]:
    """Write LWW-folded rows as one key-sorted file per bucket of an
    ``n_buckets`` layout, uncommitted. Returns (new_files, rows,
    per_file_stats) for the caller's commit. The one rewrite behind
    compaction and rescale."""
    df = folded.withColumn(BUCKET_COL, bucket_expr(KEY_COLS[0], n_buckets))
    df = df.repartition(n_partitions, F.col(BUCKET_COL))
    # narrow (per-partition) sort. BUCKET_COL leads the sort key: the
    # dynamic-partition writer REQUIRES ordering on the partition column,
    # and if our outputOrdering doesn't provide it Spark adds its own
    # SortExec on _bucket — which is NOT stable under spill, so a big
    # rewrite would silently lose the key order. Leading with _bucket
    # satisfies the writer's required ordering structurally (no extra
    # sort inserted).
    df = df.sortWithinPartitions(BUCKET_COL, *KEY_COLS)
    new_files = table.write_bucketed(df, snapshot_hint=snapshot_hint)
    rows, per_file = table.file_stats(new_files)
    return new_files, rows, per_file


def compact(
    table: LakeTable,
    max_files_per_bucket: int = 8,
    purge_tombstones: bool = False,
) -> dict:
    """Rewrite every bucket holding more than ``max_files_per_bucket``
    files to a single LWW-resolved file. Returns {bucket: n_files_before}.

    Each rewritten file is key-ordered via ``sortWithinPartitions`` — a
    NARROW op on the partitions the rewrite already owns, so it adds zero
    shuffles. Payoff at scale: parquet row-group min/max stats on
    (conv_id, turn_idx) become tight instead of whole-file-wide, so point
    lookups and key-range scans skip row groups inside the pruned bucket
    (the scan-time twin of the bucket pruning the table already does), and
    runs of equal conv_id compress better. MOR delta files stay write-order
    (append latency first); compaction is where the table earns its read
    layout — the same split Iceberg makes with its sort-order spec
    applying to rewrites.
    """
    snap = table.snapshot()
    buckets = [int(b) for b, fl in snap.files.items() if len(fl) > max_files_per_bucket]
    if not buckets:
        return {}
    before = {b: len(snap.files.get(str(b), [])) for b in buckets}

    df = fold_stored_rows(table.read_buckets(buckets))
    if purge_tombstones:
        df = df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
    new_files, _, per_file = rewrite_key_sorted(
        table, df, snap.n_buckets, len(buckets), f"c{snap.version + 1:08d}"
    )
    # rewrite-files commit: replace exactly the files we folded; delta files
    # appended by a concurrent merge since `snap` survive the rewrite (the
    # commit rebases on CommitConflict) — Iceberg's RewriteFiles semantics.
    replaced = {f for b in buckets for f in snap.files.get(str(b), [])}
    table.commit(
        new_files,
        buckets,
        {
            "op": "compact",
            "buckets": buckets,
            "files_before": before,
            "purged_tombstones": purge_tombstones,
        },
        replaced_files=replaced,
        base_version=snap.version,
        new_file_stats=per_file,
    )
    return before
