"""Seq-range file pruning + incremental (changelog) reads.

Round-2 scale features: snapshot-level per-file _seq bounds let a reader
skip files below a floor WITHOUT opening them (Iceberg-style data-file
column bounds), and read_appended() gives downstream consumers an
O(new-data) CDC-out view between snapshots.
"""

from __future__ import annotations

import pandas as pd

from couch_to_mongo_spark.operators.compact import compact
from couch_to_mongo_spark.operators.merge import merge_batch, read_state, with_engine_schema
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.tableformat import LakeTable

from feedgen import make_changes_df


def _apply(spark, table, pdf, bid):
    return merge_batch(
        table, spark.createDataFrame(pdf), run_id="r", batch_id=bid
    )


def test_min_seq_read_prunes_files(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=2
    )
    pdf = make_changes_df(n_events=900, n_convs=10, seed=81, delete_frac=0.0)
    for i, lo in enumerate(range(0, 900, 300)):
        _apply(spark, table, pdf[(pdf.seq >= lo) & (pdf.seq < lo + 300)], i)

    snap = table.snapshot()
    # every live file carries seq bounds in the snapshot
    assert set(snap.file_stats) == set(snap.all_files())
    assert all(s[1] is not None and s[2] >= s[1] for s in snap.file_stats.values())

    kept, total = table.files_pruned_by_seq(min_seq=600)
    assert total == 6  # 3 batches x 2 buckets
    assert kept == 2  # only the last batch's files pass the floor

    got = table.read(min_seq=600).select("_seq").toPandas()
    assert got["_seq"].min() >= 600
    # MOR deltas hold one row per key per batch
    b3_keys = pdf[pdf.seq >= 600].groupby(["conv_id", "turn_idx"]).ngroups
    assert len(got) == b3_keys


def test_read_appended_changelog(spark, tmp_path):
    """Incremental consumer: rows added between two snapshots, compaction
    rewrites excluded."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=2
    )
    pdf = make_changes_df(n_events=600, n_convs=8, seed=83)
    _apply(spark, table, pdf[pdf.seq < 300], 0)
    v_after_b0 = table.latest_version()

    _apply(spark, table, pdf[pdf.seq >= 300], 1)
    compact(table, max_files_per_bucket=0)  # rewrite everything

    inc = table.read_appended(since_version=v_after_b0).toPandas()
    # exactly batch 1's delta rows (deduped to one row per key per batch),
    # never the compaction rewrite of batch 0's rows
    assert inc["_seq"].min() >= 300
    b1_keys = pdf[pdf.seq >= 300].groupby(["conv_id", "turn_idx"]).ngroups
    assert len(inc) == b1_keys
    # and nothing appended since the compaction
    assert table.read_appended(since_version=table.latest_version()).count() == 0


def test_file_stats_survive_compaction_and_gc(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=2
    )
    pdf = make_changes_df(n_events=400, n_convs=6, seed=85)
    _apply(spark, table, pdf[pdf.seq < 200], 0)
    _apply(spark, table, pdf[pdf.seq >= 200], 1)
    compact(table, max_files_per_bucket=0)
    snap = table.snapshot()
    assert set(snap.file_stats) == set(snap.all_files())
    # compacted files carry bounds matching their actual content (early
    # seqs legitimately vanish: compaction keeps only LWW winners)
    actual = table.read().select("_seq").toPandas()["_seq"]
    mins = [s[1] for s in snap.file_stats.values()]
    maxs = [s[2] for s in snap.file_stats.values()]
    assert min(mins) == actual.min() and max(maxs) == actual.max() == 399
