"""Streaming CDC: end-to-end replay, crash-resume, schema evolution, lineage.

Mirrors the reference's operational semantics (SURVEY.md §2.10): checkpoint
resume (ChangeFeedClient.java:37-43), per-poll coalescing (136-150), and
fixes its silent delete drop (104-113).
"""

from __future__ import annotations

import os

import pytest

from couch_to_mongo_spark.operators.merge import read_state
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.streaming.cdc import CdcPipeline

from feedgen import generate_changes, make_changes_df, write_change_files


def run_pipeline(spark, tmp_path, **kw):
    return CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=8,
        **kw,
    )


def test_stream_replay_parity(spark, tmp_path):
    pdf = generate_changes(str(tmp_path / "changes"), n_events=4000, n_convs=50, seed=17, n_files=4)
    pipe = run_pipeline(spark, tmp_path).run_available()
    assert pipe.batches_applied >= 1
    assert_state_parity(read_state(pipe.table).toPandas(), expected_state(pdf))


def test_stream_replay_parity_url_unsafe_dir(spark, tmp_path):
    """Spark records input files as percent-encoded URIs; the drift check
    must decode them (once: ``%41`` stays literal) to open the files."""
    changes = str(tmp_path / "my changes %41")
    pdf = generate_changes(changes, n_events=2000, n_convs=30, seed=19, n_files=2)
    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=changes,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=8,
    ).run_available()
    assert pipe.batches_applied >= 1
    assert_state_parity(read_state(pipe.table).toPandas(), expected_state(pdf))


def test_crash_resume_from_checkpoint(spark, tmp_path):
    """Kill after 2 micro-batches; restart must fence/replay to parity."""
    pdf = generate_changes(
        str(tmp_path / "changes"), n_events=3000, n_convs=40, seed=23, n_files=6
    )
    pipe = run_pipeline(spark, tmp_path, max_files_per_trigger=1)

    real = pipe.process_batch
    calls = {"n": 0}

    def crashing(df, bid):
        if calls["n"] >= 2:
            raise RuntimeError("injected crash")
        calls["n"] += 1
        real(df, bid)

    pipe.process_batch = crashing
    with pytest.raises(Exception):
        pipe.run_available()
    assert pipe.batches_applied == 2

    # restart: same dirs -> same checkpoint + same pinned run_id
    pipe2 = run_pipeline(spark, tmp_path, max_files_per_trigger=1).run_available()
    assert pipe2.run_id == pipe.run_id
    assert_state_parity(read_state(pipe2.table).toPandas(), expected_state(pdf))

    # second restart is a full no-op (everything fenced or no new offsets)
    pipe3 = run_pipeline(spark, tmp_path, max_files_per_trigger=1).run_available()
    assert pipe3.batches_applied == 0
    assert_state_parity(read_state(pipe3.table).toPandas(), expected_state(pdf))


def test_schema_evolution_mid_stream(spark, tmp_path):
    """Events past evolve_at carry metadata/tool_args; stream restarts with
    the wider schema; old rows null-filled; final schema is the union."""
    pdf = make_changes_df(n_events=3000, n_convs=40, seed=29, evolve_at=1500)
    write_change_files(str(tmp_path / "changes"), pdf, n_files=6, evolve_at=1500)

    pipe = run_pipeline(spark, tmp_path, max_files_per_trigger=2).run_available()
    out = read_state(pipe.table).toPandas()
    assert "metadata" in out.columns and "tool_args" in out.columns
    exp = expected_state(pdf, extra_cols=["metadata", "tool_args"])
    assert_state_parity(out, exp)
    # rows whose winner predates evolution are null-filled
    assert out["metadata"].isna().any()
    assert out["metadata"].notna().any()


def test_lineage_records_every_batch(spark, tmp_path):
    generate_changes(str(tmp_path / "changes"), n_events=2000, n_convs=30, seed=31, n_files=4)
    pipe = run_pipeline(spark, tmp_path, max_files_per_trigger=1).run_available()
    lin = pipe.lineage.read_pandas()
    assert len(lin) == pipe.batches_applied
    assert (lin["rows_applied"] > 0).all()
    # seq ranges cover the feed in order
    lin = lin.sort_values("batch_id")
    assert lin["seq_min"].iloc[0] == 0
    assert lin["seq_max"].iloc[-1] == 1999
    assert (lin["seq_min"].values[1:] > lin["seq_max"].values[:-1]).all()
    assert pipe.lineage.last_seq() == 1999


def test_since_seq_override(spark, tmp_path):
    """CLI --since-seq analogue (CouchToMongo.java:29-31): skip early seqs."""
    pdf = generate_changes(str(tmp_path / "changes"), n_events=2000, n_convs=30, seed=37, n_files=2)
    pipe = run_pipeline(spark, tmp_path, since_seq=999).run_available()
    out = read_state(pipe.table).toPandas()
    exp = expected_state(pdf[pdf.seq > 999])
    assert_state_parity(out, exp)
