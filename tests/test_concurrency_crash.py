"""Crash-replay and concurrent-writer safety of the snapshot commit path.

Covers round-2 hardening:
- a crash between write_bucketed and commit must NOT brick the fenced
  replay (round-1 defect: deterministic staging dir -> PATH_ALREADY_EXISTS
  forever; now staging dirs are uuid-suffixed and GC'd);
- MOR append commits rebase automatically under concurrent writers;
- compaction uses rewrite-files semantics: a delta appended by a racing
  merge survives the rewrite, and is not folded into it as well;
- strict-replace (COW) commits refuse to rebase over a concurrent change
  to a touched bucket (data-loss guard).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from couch_to_mongo_spark.gen import make_changes_df
from couch_to_mongo_spark.operators.compact import compact
from couch_to_mongo_spark.operators.merge import (
    fold_stored_rows,
    merge_batch,
    read_state,
    with_engine_schema,
)
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.tableformat import CommitConflict, LakeTable


def _mk_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, path, with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=n_buckets
    )


def _batch(spark, pdf):
    return spark.createDataFrame(pdf)


def test_crash_between_write_and_commit_then_replay(spark, tmp_table_path):
    """Inject a commit failure AFTER the data files are staged; the fenced
    replay of the same batch must succeed (not PATH_ALREADY_EXISTS) and
    converge to parity. Reproduces ADVICE r01 high-severity finding."""
    table = _mk_table(spark, tmp_table_path)
    pdf = make_changes_df(n_events=800, n_convs=10, seed=41)

    original = table._write_snapshot
    boom = {"armed": True}

    def failing(snap):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash after staging, before commit")
        return original(snap)

    table._write_snapshot = failing
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_batch(table, _batch(spark, pdf), run_id="r", batch_id=0)

    # replay (what Structured Streaming does after restart): must apply
    res = merge_batch(table, _batch(spark, pdf), run_id="r", batch_id=0)
    assert not res.skipped
    assert_state_parity(read_state(table).toPandas(), expected_state(pdf, normalize=False))

    # the orphaned staging dir from the crashed attempt is GC-able
    orphans = table.gc_orphans(grace_seconds=0.0)
    assert len(orphans) == 1
    assert_state_parity(read_state(table).toPandas(), expected_state(pdf, normalize=False))


def test_bootstrap_rerun_backfills_lineage_lost_after_commit(spark, tmp_path, monkeypatch):
    """A crash between the bootstrap's snapshot commit and its lineage
    append: the re-run is fenced, and writes the lost lineage row from the
    committed snapshot — one row per committed batch."""
    from couch_to_mongo_spark.bootstrap import bulk_bootstrap
    from couch_to_mongo_spark.streaming.lineage import LineageLog

    path = str(tmp_path / "t")
    src = spark.createDataFrame(
        expected_state(make_changes_df(n_events=400, n_convs=8, seed=53), normalize=False)
    )
    original = LineageLog.append
    boom = {"armed": True}

    def failing(self, *a, **k):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash after commit, before lineage")
        return original(self, *a, **k)

    monkeypatch.setattr(LineageLog, "append", failing)
    with pytest.raises(RuntimeError, match="injected crash"):
        bulk_bootstrap(spark, path, src, n_buckets=4, run_id="boot")
    table, res = bulk_bootstrap(spark, path, src, n_buckets=4, run_id="boot")
    bulk_bootstrap(spark, path, src, n_buckets=4, run_id="boot")

    assert res.skipped
    snap = table.snapshot()
    rows = LineageLog(os.path.join(path, "_lineage")).read_pandas()
    rows = rows[(rows.run_id == "boot") & (rows.batch_id == 0)]
    assert len(rows) == 1
    assert int(rows.rows_applied.iloc[0]) == snap.lineage["rows_applied"] == src.count()
    assert int(rows.snapshot_id.iloc[0]) == snap.snapshot_id == res.snapshot_id


def test_concurrent_append_commits_rebase(spark, tmp_table_path):
    """Two writers race an append commit onto the same base version: the
    loser rebases and both deltas land (disjoint buckets, VERDICT next-#5)."""
    table_a = _mk_table(spark, tmp_table_path)
    table_b = LakeTable(spark, tmp_table_path)

    fa = {1: ["data/a/b1/f1.parquet"]}
    fb = {2: ["data/b/b2/f2.parquet"]}

    original = table_a._write_snapshot
    raced = {"done": False}

    def racing(snap):
        if not raced["done"]:
            raced["done"] = True
            # writer B wins the version while A is mid-commit
            table_b.commit(fb, [2], {"op": "b"}, append=True)
        return original(snap)

    table_a._write_snapshot = racing
    snap = table_a.commit(fa, [1], {"op": "a"}, append=True)
    final = LakeTable(spark, tmp_table_path).snapshot()
    assert final.files["1"] == fa[1]
    assert final.files["2"] == fb[2]
    assert snap.parent is not None


def test_compaction_survives_racing_merge(spark, tmp_table_path):
    """A merge that appends a delta between compaction's read and its
    commit must survive the rewrite (rewrite-files rebase)."""
    table = _mk_table(spark, tmp_table_path, n_buckets=2)
    base = make_changes_df(n_events=600, n_convs=8, seed=43, delete_frac=0.0)
    for i, lo in enumerate(range(0, 600, 200)):
        part = base[(base.seq >= lo) & (base.seq < lo + 200)]
        merge_batch(table, _batch(spark, part), run_id="r", batch_id=i)

    late = make_changes_df(n_events=100, n_convs=8, seed=44, delete_frac=0.0,
                           seq_start=10_000)
    original = table._write_snapshot
    raced = {"done": False}

    def racing(snap):
        if not raced["done"] and snap.lineage.get("op") == "compact":
            raced["done"] = True
            other = LakeTable(spark, table.path)
            merge_batch(other, _batch(spark, late), run_id="r", batch_id=3)
        return original(snap)

    table._write_snapshot = racing
    folded = compact(table, max_files_per_bucket=1)
    assert folded and raced["done"]

    import pandas as pd

    combined = expected_state(pd.concat([base, late], ignore_index=True), normalize=False)
    assert_state_parity(read_state(table).toPandas(), combined)


def test_compaction_folds_exactly_the_files_it_replaces(spark, tmp_table_path, monkeypatch):
    """Compaction reads the buckets at the snapshot whose files its commit
    replaces. A merge committed between that snapshot and the read stays a
    delta of its own; folding it into the compacted file too would store
    its rows twice."""
    table = _mk_table(spark, tmp_table_path, n_buckets=2)
    base = make_changes_df(n_events=600, n_convs=8, seed=43, delete_frac=0.1)
    for i, lo in enumerate(range(0, 600, 200)):
        part = base[(base.seq >= lo) & (base.seq < lo + 200)]
        merge_batch(table, _batch(spark, part), run_id="r", batch_id=i)
    snap = table.snapshot()
    want = fold_stored_rows(table.read(version=snap.version)).count()

    # more conversations than the base: the racing delta adds new keys
    late = make_changes_df(n_events=100, n_convs=40, seed=44, delete_frac=0.0,
                           seq_start=10_000)
    original = LakeTable.read_buckets
    raced = []

    def racing(self, buckets, version=None):
        if not raced:
            raced.append(True)
            other = LakeTable(spark, table.path)
            merge_batch(other, _batch(spark, late), run_id="r", batch_id=3)
        return original(self, buckets, version=version)

    monkeypatch.setattr(LakeTable, "read_buckets", racing)
    folded = compact(table, max_files_per_bucket=1)
    monkeypatch.undo()
    assert set(folded) == {0, 1} and raced

    after = table.snapshot()
    raced_files = set(table.snapshot(snap.version + 1).all_files())
    compacted = set(after.all_files()) - raced_files
    assert compacted and raced_files - set(snap.all_files()) <= set(after.all_files())
    assert sum(after.file_stats[f][0] for f in compacted) == want

    import pandas as pd

    combined = expected_state(pd.concat([base, late], ignore_index=True), normalize=False)
    assert_state_parity(read_state(table).toPandas(), combined)


def test_strict_replace_refuses_concurrent_bucket_change(spark, tmp_table_path):
    """COW-style replace over a bucket changed since its base version must
    raise CommitConflict instead of silently dropping the concurrent rows."""
    table = _mk_table(spark, tmp_table_path)
    base_version = table.snapshot().version
    # concurrent append lands on bucket 1 first
    table.commit({1: ["data/x/b1/f.parquet"]}, [1], {"op": "x"}, append=True)
    with pytest.raises(CommitConflict, match="strict-replace"):
        table.commit(
            {1: ["data/y/b1/g.parquet"]}, [1], {"op": "y"},
            base_version=base_version,
        )


def test_gc_orphans_keeps_live_and_fresh_dirs(spark, tmp_table_path):
    table = _mk_table(spark, tmp_table_path)
    pdf = make_changes_df(n_events=300, n_convs=6, seed=45)
    merge_batch(table, _batch(spark, pdf), run_id="r", batch_id=0)
    live_before = set(table.snapshot().all_files())

    # a fresh (in-flight) uncommitted dir is protected by the grace window
    os.makedirs(os.path.join(table.data_dir, "s99999999-deadbeef"))
    assert table.gc_orphans(grace_seconds=3600) == []
    assert table.gc_orphans(grace_seconds=0.0) == ["s99999999-deadbeef"]
    assert set(table.snapshot().all_files()) == live_before
