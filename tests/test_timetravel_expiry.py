"""Time travel + snapshot expiry (tableformat maintenance)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from couch_to_mongo_spark.functions.normalize import normalize_text
from couch_to_mongo_spark.operators.merge import merge_batch, read_state, with_engine_schema
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.tableformat import LakeTable

from feedgen import make_changes_df


@pytest.fixture()
def table_with_history(spark, tmp_path):
    pdf = make_changes_df(n_events=1200, n_convs=15, seed=61, delete_frac=0.05)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    thirds = [pdf[pdf.seq < 400], pdf[(pdf.seq >= 400) & (pdf.seq < 800)], pdf[pdf.seq >= 800]]
    for i, part in enumerate(thirds):
        b = spark.createDataFrame(part).withColumn("text", normalize_text(F.col("text")))
        merge_batch(table, b, run_id="r", batch_id=i)
    return table, pdf, thirds


def test_time_travel_reads_each_version(spark, table_with_history):
    table, pdf, thirds = table_with_history
    assert table.latest_version() == 3
    # version 1 = state after batch 0 only
    v1 = read_state(table, version=1).toPandas()
    assert_state_parity(
        v1.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
        expected_state(thirds[0]),
    )
    # latest = full fold
    assert_state_parity(read_state(table).toPandas(), expected_state(pdf))


def test_expire_snapshots_bounds_history(spark, table_with_history):
    from couch_to_mongo_spark.operators.compact import compact

    table, pdf, _ = table_with_history
    # compaction rewrites buckets -> the MOR delta files become referenced
    # only by pre-compaction snapshots
    compact(table, max_files_per_bucket=0)
    old_delta_files = [
        os.path.join(table.path, f) for f in table.snapshot(3).all_files()
    ]
    stats = table.expire_snapshots(keep_last=1)
    assert stats["snapshots_expired"] == 4  # v0..v3 expired, v4 (compacted) kept
    assert stats["files_deleted"] > 0
    assert any(not os.path.exists(f) for f in old_delta_files)
    # latest state unaffected
    assert_state_parity(read_state(table).toPandas(), expected_state(pdf))
    latest_files = {os.path.join(table.path, f) for f in table.snapshot().all_files()}
    for f in latest_files:
        assert os.path.exists(f)


def test_expire_noop_when_single_snapshot(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=2
    )
    assert table.expire_snapshots(keep_last=5)["files_deleted"] == 0


def test_timestamp_time_travel(spark, tmp_path):
    """as_of (epoch seconds) resolves to the latest commit at-or-before the
    timestamp — Iceberg's FOR SYSTEM_TIME AS OF."""
    import time

    pdf = make_changes_df(n_events=800, n_convs=10, seed=62, delete_frac=0.0)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    halves = [pdf[pdf.seq < 400], pdf[pdf.seq >= 400]]
    merge_batch(table, spark.createDataFrame(halves[0]), run_id="r", batch_id=0)
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    merge_batch(table, spark.createDataFrame(halves[1]), run_id="r", batch_id=1)

    assert table.version_as_of(t_mid) == 1
    assert table.version_as_of(time.time()) == table.latest_version()
    mid_rows = read_state(table, version=table.version_as_of(t_mid)).count()
    v1_rows = read_state(table, version=1).count()
    assert mid_rows == v1_rows
    # direct read(as_of=...) sees only the first batch's raw rows
    assert table.read(as_of=t_mid).count() == table.read(version=1).count()
    with pytest.raises(ValueError):
        table.read(version=1, as_of=t_mid)
    # a timestamp before the table existed has no snapshot... except the
    # create() snapshot, which is treated as arbitrarily old only when
    # undated; a dated create commit raises for ts before it
    with pytest.raises(ValueError):
        table.version_as_of(0.0)


def test_pipeline_retention_bounds_snapshot_log(spark, tmp_path):
    """CdcPipeline(retention_keep_last=): a long replay keeps the version
    log bounded via the maintenance loop, while state parity, fences, and
    cross-run LWW convergence all survive expiry (fences ride in every
    retained snapshot)."""
    from feedgen import generate_changes
    from couch_to_mongo_spark.operators.merge import read_state
    from couch_to_mongo_spark.streaming.cdc import CdcPipeline

    generate_changes(
        str(tmp_path / "changes"), n_events=1200, n_convs=12, seed=79, n_files=6
    )
    kw = dict(
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        max_files_per_trigger=1,
        retention_keep_last=3,
        retention_every=2,
        compact_async=False,  # deterministic maintenance ordering
    )
    pipe = CdcPipeline(spark, **kw).run_available()
    assert pipe.batches_applied == 6
    assert pipe.expirations >= 2
    # bounded: keep_last plus at most the commits since the last expiry
    versions = pipe.table._existing_versions()
    assert len(versions) <= 3 + 2 * 2, versions

    # fences survive expiry (cumulative in every retained snapshot)
    assert pipe.table.is_batch_committed(pipe.run_id, 0)
    assert pipe.table.is_batch_committed(pipe.run_id, 5)

    state = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in read_state(pipe.table).collect()
    }

    # same checkpoint: nothing redelivered
    pipe2 = CdcPipeline(spark, **kw).run_available()
    assert pipe2.batches_applied == 0

    # fresh checkpoint (new run id): full re-apply converges by LWW on
    # the expired table
    kw3 = dict(kw, checkpoint_dir=str(tmp_path / "ckpt2"))
    pipe3 = CdcPipeline(spark, **kw3).run_available()
    state3 = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in read_state(pipe3.table).collect()
    }
    assert state3 == state
