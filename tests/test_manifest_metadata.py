"""Snapshot-manifest scale properties: per-commit metadata is O(touched
buckets), version discovery is pointer-based, retention prunes metadata,
and concurrent writers converge with bounded retries.

These are pure metadata-layer tests (no Spark jobs): `commit` never touches
data files, so hundreds of commits run in seconds — the point is to measure
the METADATA bytes a micro-batch commit costs at a long-stream commit count,
which is exactly what the monolithic v1 snapshot format got wrong
(O(live files) re-serialized per commit).
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from couch_to_mongo_spark.operators.merge import with_engine_schema
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.tableformat import CommitConflict, LakeTable

N_BUCKETS = 16


def _append_one(table, i: int, run_id: str = "r", bucket: int | None = None):
    b = i % N_BUCKETS if bucket is None else bucket
    rel = f"data/fake-{run_id}/{i:06d}.parquet"
    return table.commit(
        new_files={b: [rel]},
        touched_buckets=[b],
        lineage={"op": "append", "i": i},
        run_id=run_id,
        batch_id=i,
        append=True,
        new_file_stats={rel: [10, i * 100, i * 100 + 99]},
    )


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA),
        n_buckets=N_BUCKETS,
    )


def test_commit_metadata_flat_over_many_commits(table):
    """Snapshot JSON bytes must NOT grow with the number of live files:
    after 600 append commits (~600 live files) the snapshot is the same
    size as after 32 (when every bucket first had a manifest). The v1
    inline format grew ~linearly here."""
    sizes = {}
    for i in range(600):
        snap = _append_one(table, i)
        sizes[i] = os.path.getsize(table._snap_path(snap.version))
    assert sizes[599] < 1.3 * sizes[32]
    # the in-memory view still resolves every file through the manifests
    snap = table.snapshot()
    assert len(snap.all_files()) == 600
    assert len(snap.file_stats) == 600
    assert set(snap.manifests) == {str(b) for b in range(N_BUCKETS)}


def test_commit_writes_only_touched_manifests(table):
    _append_one(table, 0, bucket=3)
    before = table.snapshot().manifests
    n_manifest_files = len(os.listdir(table.manifest_dir))
    _append_one(table, 1, bucket=3)
    after = table.snapshot().manifests
    # exactly one new manifest on disk, and only bucket 3's ref changed
    assert len(os.listdir(table.manifest_dir)) == n_manifest_files + 1
    assert after["3"] != before["3"]
    for b in before:
        if b != "3":
            assert after[b] == before[b]


def test_latest_pointer_fallback_and_probe(table):
    for i in range(5):
        _append_one(table, i)
    assert table.latest_version() == 5
    ptr = os.path.join(table.snap_dir, "_latest")
    assert int(open(ptr).read()) == 5
    # stale pointer (crash between publish and pointer update) -> probe fwd
    with open(ptr, "w") as fh:
        fh.write("2")
    assert table.latest_version() == 5
    # missing pointer -> listdir fallback
    os.unlink(ptr)
    assert table.latest_version() == 5
    # bogus pointer -> fallback
    with open(ptr, "w") as fh:
        fh.write("bogus")
    assert table.latest_version() == 5


def test_expire_prunes_versions_and_manifests(table):
    for i in range(20):
        _append_one(table, i)
    stats = table.expire_snapshots(keep_last=2, manifest_grace_seconds=0.0)
    assert stats["snapshots_expired"] == 19  # v0..v18 gone, v19+v20 kept
    assert stats["manifests_deleted"] > 0
    assert table._existing_versions() == [19, 20]
    # retained manifests are exactly what's on disk
    live = set()
    for v in (19, 20):
        live.update(table.snapshot(v).manifests.values())
    assert set(os.listdir(table.manifest_dir)) == live
    # time travel beyond retention fails loudly; latest still reads
    with pytest.raises(FileNotFoundError):
        table.snapshot(3)
    assert len(table.snapshot().all_files()) == 20
    assert table.latest_version() == 20


def test_concurrent_appenders_converge_with_bounded_retries(spark, tmp_path):
    """4 concurrent writers x 12 append commits on one table: all land,
    and the optimistic-commit retry count stays bounded (backoff, not
    busy-spin)."""
    path = str(tmp_path / "t")
    LakeTable.create(spark, path, with_engine_schema(TRANSCRIPT_SCHEMA),
                     n_buckets=N_BUCKETS)
    n_writers, n_commits = 4, 12
    attempts = [0] * n_writers
    errors = []

    def writer(w: int):
        tbl = LakeTable(spark, path)  # separate writer instance, same table
        orig = tbl._write_snapshot

        def counting(snap):
            attempts[w] += 1
            return orig(snap)

        tbl._write_snapshot = counting
        for i in range(n_commits):
            try:
                _append_one(tbl, i, run_id=f"w{w}")
            except CommitConflict as e:  # pragma: no cover
                errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    final = LakeTable(spark, path).snapshot()
    assert len(final.all_files()) == n_writers * n_commits
    # every writer's fence advanced to its last batch
    for w in range(n_writers):
        assert final.fences[f"w{w}"][0] == n_commits - 1
    total_attempts = sum(attempts)
    total_commits = n_writers * n_commits
    assert total_attempts < total_commits * 4  # bounded contention overhead


def test_v1_inline_snapshot_migrates_on_commit(table):
    """A v1-format snapshot (inline files/file_stats) reads fine, and the
    next commit rewrites it into manifest form."""
    _append_one(table, 0)
    snap = table.snapshot()
    # rewrite latest snapshot as v1-inline
    d = {
        "version": snap.version, "snapshot_id": snap.snapshot_id,
        "parent": snap.parent, "schema": snap.schema_json,
        "n_buckets": snap.n_buckets, "files": snap.files,
        "file_stats": snap.file_stats, "lineage": snap.lineage,
        "fences": snap.fences,
    }
    os.unlink(table._snap_path(snap.version))
    with open(table._snap_path(snap.version), "w") as fh:
        json.dump(d, fh)
    loaded = table.snapshot()
    assert loaded.files == snap.files and loaded.file_stats == snap.file_stats
    new = _append_one(table, 1)
    assert set(new.manifests) == set(new.files)
    assert len(table.snapshot().all_files()) == 2


def test_cold_read_buckets_opens_only_requested_manifests(table, monkeypatch):
    """A cold process doing a bucket-pruned read must open O(requested)
    manifests, not O(n_buckets) — at 10^5 buckets the difference is the
    whole commit-path latency."""
    import couch_to_mongo_spark.tableformat as TF

    for i in range(N_BUCKETS):
        _append_one(table, i)

    TF._MANIFEST_CACHE.clear()  # simulate a cold process
    opened = []
    real = LakeTable._read_manifest

    def counting(self, name):
        opened.append(name)
        return real(self, name)

    monkeypatch.setattr(LakeTable, "_read_manifest", counting)
    try:
        # fixture files are fake paths, so the Spark scan itself fails —
        # the assertion is about METADATA I/O, which happens first
        table.read_buckets([3, 7])
    except Exception:
        pass
    assert len(opened) == 2

    # fence checks must open zero manifests
    opened.clear()
    TF._MANIFEST_CACHE.clear()
    assert table.is_batch_committed("r", 0)
    assert not table.is_batch_committed("other", 0)
    assert opened == []

    # a materialized snapshot still resolves everything
    opened.clear()
    TF._MANIFEST_CACHE.clear()
    snap = table.snapshot()
    assert len(snap.all_files()) == N_BUCKETS
    assert len(opened) == N_BUCKETS


def test_manifest_cache_lru_keeps_hot_entry(table, monkeypatch):
    """Overflow evicts the least-recently-used entry, not the whole cache:
    a hot entry re-touched before the overflow survives."""
    import couch_to_mongo_spark.tableformat as TF

    for i in range(8):
        _append_one(table, i)
    snap = table.snapshot(materialize=False)
    names = [snap.manifests[str(b)] for b in range(8)]

    TF._MANIFEST_CACHE.clear()
    monkeypatch.setattr(TF, "_MANIFEST_CACHE_MAX", 4)
    hot = names[0]
    table._read_manifest(hot)
    for n in names[1:3]:
        table._read_manifest(n)
    table._read_manifest(hot)  # touch: hot becomes most-recent
    for n in names[3:6]:  # overflow: evicts LRU entries, never the hot one
        table._read_manifest(n)
    hot_path = os.path.join(table.manifest_dir, hot)
    assert hot_path in TF._MANIFEST_CACHE
    assert len(TF._MANIFEST_CACHE) <= 4
