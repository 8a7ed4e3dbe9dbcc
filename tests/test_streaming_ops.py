"""Streaming operators beyond the CDC core: stateful progress
(applyInPandasWithState) verified against batch ground truth."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from couch_to_mongo_spark.gen import generate_changes
from couch_to_mongo_spark.sources.changes import infer_feed_schema, read_changes_stream
from couch_to_mongo_spark.streaming.stateful import conversation_progress_stream


def test_stateful_conversation_progress(spark, tmp_path):
    changes = str(tmp_path / "changes")
    pdf = generate_changes(changes, n_events=2000, n_convs=25, seed=91, n_files=4)

    stream = read_changes_stream(
        spark, changes, infer_feed_schema(changes), max_files_per_trigger=1
    )
    q = (
        conversation_progress_stream(stream)
        .writeStream.format("memory")
        .queryName("conv_progress")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # update mode emits one refreshed row per touched conversation per
    # micro-batch; the LAST emission per conversation is the final state
    out = spark.sql(
        "SELECT conv_id, max(n_events) n_events, max(max_seq) max_seq FROM conv_progress GROUP BY conv_id"
    ).toPandas()
    truth = (
        pdf.groupby("conv_id")
        .agg(n_events=("seq", "size"), max_seq=("seq", "max"))
        .reset_index()
    )
    m = out.sort_values("conv_id").reset_index(drop=True)
    t = truth.sort_values("conv_id").reset_index(drop=True)
    assert len(m) == len(t)
    assert (m["n_events"].values == t["n_events"].values).all()
    assert (m["max_seq"].values == t["max_seq"].values).all()


def test_stateful_exact_distinct_turns_across_batches(spark, tmp_path):
    """n_turns is the EXACT cross-batch distinct count: 8 turns arriving
    one per micro-batch (turn-disjoint split) must report n_turns=8. The
    turn-id set lives in the operator state; a running max of per-batch
    distincts would report 1 here."""
    import numpy as np

    changes = str(tmp_path / "changes")
    n = 8
    pdf = pd.DataFrame(
        {
            "seq": np.arange(n, dtype=np.int64),
            "op": ["i"] * n,
            "conv_id": ["conv-000000"] * n,
            "turn_idx": np.arange(n, dtype=np.int32),
            "_rev": [f"1-{i:08x}" for i in range(n)],
            "role": ["user"] * n,
            "text": [f"turn {i}" for i in range(n)],
            "tool": pd.array([None] * n, dtype="string"),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(range(n), unit="s"),
        }
    )
    from couch_to_mongo_spark.gen import write_change_files

    write_change_files(changes, pdf, n_files=n)
    stream = read_changes_stream(
        spark, changes, infer_feed_schema(changes), max_files_per_trigger=1
    )
    q = (
        conversation_progress_stream(stream)
        .writeStream.format("memory")
        .queryName("conv_turns_disjoint")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql(
        "SELECT max(n_turns) n_turns, count(*) n_emissions FROM conv_turns_disjoint"
    ).collect()[0]
    assert out["n_emissions"] >= 2  # the split really was multi-batch
    assert out["n_turns"] == n


def test_stateful_state_survives_restart(spark, tmp_path):
    """State lives in the checkpoint: a second run over NEW files continues
    the counts instead of restarting from zero."""
    changes = str(tmp_path / "changes")
    pdf1 = generate_changes(changes, n_events=600, n_convs=10, seed=93, n_files=2)
    out_dir = str(tmp_path / "out")

    def run(run_tag):
        # memory sink can't recover from a checkpoint; foreachBatch can —
        # the state store resumes, emissions land in per-run parquet dirs
        stream = read_changes_stream(
            spark, changes, infer_feed_schema(changes), max_files_per_trigger=1
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(f"{out_dir}/{run_tag}")

        q = (
            conversation_progress_stream(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("a")
    from couch_to_mongo_spark.gen import make_changes_df, write_change_files

    pdf2 = make_changes_df(n_events=400, n_convs=10, seed=94, seq_start=600)
    write_change_files(changes, pdf2, n_files=1, start_index=10)
    run("b")

    out = (
        spark.read.parquet(f"{out_dir}/b")
        .groupBy("conv_id")
        .agg(F.max("n_events").alias("n_events"))
        .toPandas()
    )
    both = pd.concat([pdf1, pdf2], ignore_index=True)
    truth = both.groupby("conv_id").size()
    # progress_b only re-emits conversations touched by the new files, but
    # their counts must INCLUDE the first run's events (state resumed)
    for _, r in out.iterrows():
        assert r["n_events"] == truth[r["conv_id"]]
