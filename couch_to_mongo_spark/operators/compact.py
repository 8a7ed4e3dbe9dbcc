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

from couch_to_mongo_spark.operators.merge import STORED_ORDER, drop_tombstones, write_winners
from couch_to_mongo_spark.tableformat import LakeTable


def compact(
    table: LakeTable,
    max_files_per_bucket: int = 8,
    purge_tombstones: bool = False,
) -> dict:
    """Rewrite every bucket holding more than ``max_files_per_bucket``
    files to a single LWW-resolved file. Returns {bucket: n_files_before}.

    The buckets' stored rows as of one snapshot go through the one
    bucketed write (``merge.write_winners``), so each file is key-ordered:
    parquet row-group min/max on (conv_id, turn_idx) stay tight for
    point lookups and key-range scans. The tombstone purge filters the
    winners; filtering first would let an older live version win.
    """
    snap = table.snapshot()
    buckets = [int(b) for b, fl in snap.files.items() if len(fl) > max_files_per_bucket]
    if not buckets:
        return {}
    before = {b: len(snap.files.get(str(b), [])) for b in buckets}

    # read exactly the files the commit replaces: a delta a concurrent merge
    # appends after `snap` stays live, so folding it in would store it twice
    new_files, _, per_file = write_winners(
        table, table.read_buckets(buckets, version=snap.version), STORED_ORDER,
        snap.n_buckets, f"c{snap.version + 1:08d}",
        after_dedup=drop_tombstones if purge_tombstones else None,
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
