"""Bucket rescaling: re-key the table from N to M hash buckets.

The operational answer to 100x growth: a table bucketed for 1 TB
(n_buckets=16) that grows to 100 TB ends up with multi-TB buckets — merge
tasks, compaction units, and scan parallelism are all bucket-granular, so
the bucket count must be able to evolve without table downtime or a manual
copy job. Iceberg models this as partition-spec evolution; here the bucket
function is `pmod(xxhash64(key), n_buckets)`, which is not
divisibility-stable, so rescale is a single full rewrite published as one
atomic strict-replace commit:

- readers before the commit see the old layout, readers after see the new
  one — never a mix (snapshot isolation from the version pointer);
- exactly-once fences carry over, so a streaming run resumes across the
  rescale without replaying applied batches;
- any concurrent merge that lands between our snapshot read and commit
  raises CommitConflict (its rows would otherwise be lost in the re-key),
  and the caller re-runs — the strict-replace commit's safety rule.

The rewrite itself folds multi-version MOR deltas through the one bucketed
write compaction uses (``merge.write_winners``; tombstones kept —
out-of-order replays must still lose to them), so the rescaled table
starts compact: one key-sorted file per bucket, the layout compaction
produces. Cost is one table-sized
shuffle — O(data), amortized over the months the new layout serves; at
100 TB you run it as a dedicated job, not inside the ingest loop.

Reference parity note: couch-to-mongo fixes its parallelism at config time
(num_threads, CouchToMongo.java:40-61) and cannot re-shard a finished
migration; rescale is part of the lakehouse operational surface above it.
"""

from __future__ import annotations

from couch_to_mongo_spark.operators.merge import STORED_ORDER, write_winners
from couch_to_mongo_spark.tableformat import LakeTable

__all__ = ["rescale_buckets"]


def rescale_buckets(
    table: LakeTable,
    new_n_buckets: int,
) -> dict:
    """Rewrite the whole table into ``new_n_buckets`` hash buckets, each
    one key-sorted file, in one atomic strict-replace commit. Returns
    {"old_n_buckets", "new_n_buckets", "rows"}. Raises CommitConflict if
    anything commits concurrently."""
    snap = table.snapshot()
    old_n = snap.n_buckets
    new_files, rows, per_file = write_winners(
        table, table.read(version=snap.version), STORED_ORDER, new_n_buckets,
        f"r{snap.version + 1:08d}",
    )
    lineage = {
        "op": "rescale",
        "old_n_buckets": old_n,
        "new_n_buckets": new_n_buckets,
        "rows": rows,
    }
    # touched = every bucket id in EITHER numbering: old ids not in new_files
    # get emptied out, new ids get their fresh single file; the strict-replace
    # per-bucket conflict check then covers the entire table
    touched = sorted(set(range(old_n)) | set(range(new_n_buckets)))
    table.commit(
        new_files,
        touched,
        lineage,
        base_version=snap.version,
        new_file_stats=per_file,
        new_n_buckets=new_n_buckets,
    )
    return lineage
