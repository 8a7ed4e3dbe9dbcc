"""Bucket rescaling (operators/rescale.py): atomic N->M re-key of the
whole table — state parity, layout invariants, fence carry-over, and the
concurrent-writer data-loss guard."""

from __future__ import annotations

import pandas as pd
import pytest

from couch_to_mongo_spark.operators.merge import (
    merge_batch,
    read_state,
    with_engine_schema,
)
from couch_to_mongo_spark.operators.rescale import rescale_buckets
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.tableformat import CommitConflict, LakeTable

from feedgen import make_changes_df


def _mk_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, path, with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=n_buckets
    )


def _apply(spark, table, pdf, run_id="r", batch_start=0):
    for i, lo in enumerate(range(0, len(pdf), 400)):
        merge_batch(
            table,
            spark.createDataFrame(pdf.iloc[lo : lo + 400]),
            run_id=run_id,
            batch_id=batch_start + i,
        )
    return i + 1


def test_rescale_up_preserves_state_and_layout(spark, tmp_table_path):
    table = _mk_table(spark, tmp_table_path, n_buckets=4)
    pdf = make_changes_df(n_events=1200, n_convs=15, seed=51, delete_frac=0.05)
    _apply(spark, table, pdf)

    info = rescale_buckets(table, 16)
    assert info["old_n_buckets"] == 4 and info["new_n_buckets"] == 16

    snap = table.snapshot()
    assert snap.n_buckets == 16
    # every file lives under a new-numbering bucket; old dirs are gone
    assert all(0 <= int(b) < 16 for b in snap.files)
    assert len(snap.files) > 4  # keys actually spread into the wider layout
    assert_state_parity(
        read_state(table)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True),
        expected_state(pdf, normalize=False),
    )


def test_merges_and_fences_work_across_rescale(spark, tmp_table_path):
    table = _mk_table(spark, tmp_table_path, n_buckets=4)
    pdf = make_changes_df(n_events=800, n_convs=10, seed=52)
    n_batches = _apply(spark, table, pdf, run_id="runA")

    rescale_buckets(table, 8)

    # fences carried over: replaying an applied batch under the SAME run
    # after the rescale must be skipped, not re-applied
    res = merge_batch(
        table,
        spark.createDataFrame(pdf.iloc[0:400]),
        run_id="runA",
        batch_id=0,
    )
    assert res.skipped

    # new merges land in the new layout and parity holds end-to-end
    late = make_changes_df(n_events=400, n_convs=10, seed=53, seq_start=50_000)
    merge_batch(
        table,
        spark.createDataFrame(late),
        run_id="runA",
        batch_id=n_batches,
    )
    assert table.snapshot().n_buckets == 8
    combined = expected_state(pd.concat([pdf, late], ignore_index=True), normalize=False)
    assert_state_parity(
        read_state(table)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True),
        combined,
    )


def test_rescale_conflicts_with_concurrent_merge(spark, tmp_table_path):
    """A merge landing between rescale's snapshot read and its commit must
    fail the rescale (CommitConflict) — rebasing would silently drop the
    merge's rows from the re-keyed layout."""
    table = _mk_table(spark, tmp_table_path, n_buckets=4)
    pdf = make_changes_df(n_events=600, n_convs=8, seed=54)
    _apply(spark, table, pdf)

    original = table._write_snapshot
    raced = {"done": False}

    def racing(snap):
        if not raced["done"] and snap.lineage.get("op") == "rescale":
            raced["done"] = True
            other = LakeTable(spark, table.path)
            late = make_changes_df(n_events=100, n_convs=8, seed=55, seq_start=9_000)
            merge_batch(
                other,
                spark.createDataFrame(late),
                run_id="r2",
                batch_id=0,
            )
        return original(snap)

    table._write_snapshot = racing
    with pytest.raises(CommitConflict):
        rescale_buckets(table, 8)
    assert raced["done"]
    # the racing merge's rows survived; table still on the old layout
    assert table.snapshot().n_buckets == 4
