"""Slice 0 (SURVEY.md §7): one change batch through MERGE, parity vs oracle."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from couch_to_mongo_spark.functions.normalize import normalize_text
from couch_to_mongo_spark.operators.cdf import ChangeFeedLog
from couch_to_mongo_spark.operators.merge import merge_batch, read_state, with_engine_schema
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.tableformat import LakeTable

from feedgen import make_changes_df


def spark_changes(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf)


def change_feed(spark, path):
    """Insert/update/delete counts are filled only for merges with a
    change feed attached — the tests asserting them attach one."""
    return ChangeFeedLog(spark, os.path.join(path, "_changes"))


def apply_one_batch(spark, path, pdf, run_id="r1", batch_id=0, n_buckets=8, cdf=False):
    table = LakeTable.create(
        spark, path, with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=n_buckets
    )
    batch = spark_changes(spark, pdf).withColumn("text", normalize_text(F.col("text")))
    res = merge_batch(
        table, batch, run_id=run_id, batch_id=batch_id,
        cdf=change_feed(spark, path) if cdf else None,
    )
    return table, res


def test_single_batch_parity(spark, tmp_table_path):
    pdf = make_changes_df(n_events=3000, n_convs=50, seed=7)
    table, res = apply_one_batch(spark, tmp_table_path, pdf, cdf=True)
    assert not res.skipped
    assert res.snapshot_id == 1
    assert res.seq_min == 0 and res.seq_max == 2999

    actual = read_state(table).toPandas()
    expected = expected_state(pdf)
    assert_state_parity(actual, expected)
    # lineage stats add up: every distinct key classified exactly once
    n_keys = pdf.groupby(["conv_id", "turn_idx"]).ngroups
    assert res.n_inserts + res.n_updates + res.n_deletes <= n_keys
    assert res.n_inserts > 0


def test_two_batches_parity_and_updates(spark, tmp_table_path):
    pdf = make_changes_df(n_events=4000, n_convs=40, seed=11)
    b1, b2 = pdf[pdf.seq < 2000], pdf[pdf.seq >= 2000]
    table, res1 = apply_one_batch(spark, tmp_table_path, b1)
    batch2 = spark_changes(spark, b2).withColumn("text", normalize_text(F.col("text")))
    res2 = merge_batch(
        table, batch2, run_id="r1", batch_id=1, cdf=change_feed(spark, tmp_table_path)
    )
    assert res2.n_updates > 0  # overlapping keys across batches

    actual = read_state(table).toPandas()
    assert_state_parity(actual, expected_state(pdf))


def test_fencing_replay_is_noop(spark, tmp_table_path):
    pdf = make_changes_df(n_events=1000, n_convs=20, seed=3)
    table, res = apply_one_batch(spark, tmp_table_path, pdf)
    before = table.snapshot().snapshot_id
    replay = merge_batch(
        table,
        spark_changes(spark, pdf).withColumn("text", normalize_text(F.col("text"))),
        run_id="r1",
        batch_id=0,
    )
    assert replay.skipped
    assert table.snapshot().snapshot_id == before
    assert_state_parity(read_state(table).toPandas(), expected_state(pdf))


def test_out_of_order_batches_converge(spark, tmp_table_path):
    """Order-insensitivity: applying the later seq half first converges
    anyway. Batch ids stay monotonic (the fence contract — Structured
    Streaming never emits them out of order); the out-of-order-ness under
    test is the *content* (seq ranges), which LWW resolves."""
    pdf = make_changes_df(n_events=2000, n_convs=30, seed=5, delete_frac=0.0)
    b1, b2 = pdf[pdf.seq < 1000], pdf[pdf.seq >= 1000]
    table, _ = apply_one_batch(spark, tmp_table_path, b2, batch_id=0)
    batch1 = spark_changes(spark, b1).withColumn("text", normalize_text(F.col("text")))
    merge_batch(table, batch1, run_id="r1", batch_id=1)
    assert_state_parity(read_state(table).toPandas(), expected_state(pdf))


def test_fence_is_per_run_high_water(spark, tmp_table_path):
    """The fence is O(1) per run: a high-water mark, not a per-batch map.
    Replaying any batch id <= the high-water is a no-op; snapshot metadata
    size stays constant as batches accumulate (VERDICT r01 wrong-#1)."""
    import json as _json
    import os as _os

    pdf = make_changes_df(n_events=500, n_convs=10, seed=21)
    table, _ = apply_one_batch(spark, tmp_table_path, pdf, batch_id=7)
    # lower-numbered batch ids are fenced without their own map entries
    assert table.is_batch_committed("r1", 3)
    assert table.is_batch_committed("r1", 7)
    assert not table.is_batch_committed("r1", 8)
    assert not table.is_batch_committed("other-run", 0)
    # metadata stays O(1): simulate 200 more fence-only commits and check
    # the snapshot JSON does not grow with batch count
    for i in range(8, 208):
        table.commit({}, [], {"op": "noop"}, run_id="r1", batch_id=i, append=True)
    sz = lambda v: _os.path.getsize(
        _os.path.join(table.snap_dir, f"v{v:08d}.json")
    )
    first, last = sz(2), sz(table.latest_version())
    assert last <= first + 32  # constant modulo batch-id digit growth
    assert table.snapshot().fences == {"r1": [207, table.snapshot().snapshot_id]}


def test_deletes_produce_tombstones(spark, tmp_table_path):
    pdf = make_changes_df(n_events=3000, n_convs=30, seed=9, delete_frac=0.15)
    assert (pdf.op == "d").any()
    # two batches so batch-2 deletes hit keys that exist in the table
    b1, b2 = pdf[pdf.seq < 1500], pdf[pdf.seq >= 1500]
    table, _ = apply_one_batch(spark, tmp_table_path, b1)
    batch2 = spark_changes(spark, b2).withColumn("text", normalize_text(F.col("text")))
    res2 = merge_batch(
        table, batch2, run_id="r1", batch_id=1, cdf=change_feed(spark, tmp_table_path)
    )
    assert res2.n_deletes > 0
    assert res2.seq_min == 1500 and res2.seq_max == 2999
    raw = table.read().toPandas()
    assert raw["_deleted"].sum() > 0  # tombstones stored
    assert_state_parity(read_state(table).toPandas(), expected_state(pdf))


def test_touched_bucket_pruning(spark, tmp_table_path):
    """A batch touching one conversation must not rewrite other buckets."""
    pdf = make_changes_df(n_events=2000, n_convs=40, seed=13)
    table, _ = apply_one_batch(spark, tmp_table_path, pdf, n_buckets=16)
    files_before = dict(table.snapshot().files)

    one = make_changes_df(n_events=1, n_convs=2, seed=99, hot_frac=1.0, seq_start=10_000)
    batch = spark_changes(spark, one).withColumn("text", normalize_text(F.col("text")))
    res = merge_batch(table, batch, run_id="r1", batch_id=1)
    assert res.touched_buckets == 1
    files_after = table.snapshot().files
    unchanged = [
        b for b in files_before if files_before[b] == files_after.get(b)
    ]
    assert len(unchanged) >= len(files_before) - 1


def test_empty_batch_commits_fence_only(spark, tmp_table_path):
    """An empty batch commits only its fence entry: no files, no seq range,
    nothing applied — also when the optimizer plans the empty input away
    entirely (an empty local relation runs no job at all)."""
    pdf = make_changes_df(n_events=500, n_convs=10, seed=17)
    table, _ = apply_one_batch(spark, tmp_table_path, pdf)
    files = table.snapshot().files
    batch = spark_changes(spark, pdf)
    empties = [spark.createDataFrame([], batch.schema), batch.where(F.col("seq") < 0)]
    for batch_id, empty in enumerate(empties, start=1):
        res = merge_batch(table, empty, run_id="r1", batch_id=batch_id)
        assert not res.skipped
        assert (res.rows_applied, res.touched_buckets) == (0, 0)
        assert (res.seq_min, res.seq_max) == (None, None)
        assert table.is_batch_committed("r1", batch_id)
    assert table.snapshot().files == files
    assert_state_parity(read_state(table).toPandas(), expected_state(pdf))
