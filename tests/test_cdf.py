"""Change data feed (operators/cdf.py): folding the emitted semantic
changes must reconstruct the table state; pre-images must match the
pre-batch state; counts must agree with merge lineage; orphan rows of
never-committed batches must be excluded by fence-aware reads."""

from __future__ import annotations

import pandas as pd

from couch_to_mongo_spark.operators.cdf import ChangeFeedLog
from couch_to_mongo_spark.operators.merge import (
    merge_batch,
    read_state,
    with_engine_schema,
)
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.tableformat import LakeTable

from feedgen import make_changes_df


def _setup(spark, path, n_events=1500, seed=61):
    table = LakeTable.create(
        spark, str(path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    cdf = ChangeFeedLog(spark, str(path / "cdf"))
    pdf = make_changes_df(n_events=n_events, n_convs=12, seed=seed, delete_frac=0.08)
    results = []
    for i, lo in enumerate(range(0, len(pdf), 500)):
        results.append(
            merge_batch(
                table,
                spark.createDataFrame(pdf.iloc[lo : lo + 500]),
                run_id="r",
                batch_id=i,
                cdf=cdf,
            )
        )
    return table, cdf, pdf, results


def _fold(changes: pd.DataFrame) -> dict:
    """Apply the feed in (batch, change) order to an empty dict of keys."""
    state: dict = {}
    for _, row in changes.sort_values(["_batch_id"]).iterrows():
        k = (row["conv_id"], row["turn_idx"])
        t = row["_change_type"]
        if t in ("insert", "update_postimage"):
            state[k] = row["text"]
        elif t == "delete":
            state.pop(k, None)
    return state


def test_cdf_fold_reconstructs_table_state(spark, tmp_path):
    table, cdf, pdf, _ = _setup(spark, tmp_path)
    feed = cdf.read(table).toPandas()
    assert set(feed["_change_type"]) <= {
        "insert", "update_preimage", "update_postimage", "delete"
    }
    folded = _fold(feed)
    state = read_state(table).toPandas()
    assert {(r["conv_id"], r["turn_idx"]) for _, r in state.iterrows()} == set(folded)
    for _, r in state.iterrows():
        assert folded[(r["conv_id"], r["turn_idx"])] == r["text"]
    # sanity against the independent oracle too
    assert_state_parity(
        state.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
        expected_state(pdf, normalize=False),
    )


def test_cdf_counts_match_lineage_and_preimages_match_prior_state(spark, tmp_path):
    table, cdf, pdf, results = _setup(spark, tmp_path)
    feed = cdf.read(table).toPandas()
    for i, res in enumerate(results):
        fb = feed[feed["_batch_id"] == i]
        assert (fb["_change_type"] == "insert").sum() == res.n_inserts, i
        assert (fb["_change_type"] == "update_postimage").sum() == res.n_updates, i
        assert (fb["_change_type"] == "update_preimage").sum() == res.n_updates, i
        assert (fb["_change_type"] == "delete").sum() == res.n_deletes, i

    # pre-images of batch k == folded state through batch k-1
    last = feed["_batch_id"].max()
    prior = _fold(feed[feed["_batch_id"] < last])
    pre = feed[(feed["_batch_id"] == last) & (feed["_change_type"] == "update_preimage")]
    assert len(pre) > 0
    for _, row in pre.iterrows():
        assert prior[(row["conv_id"], row["turn_idx"])] == row["text"]


def test_streaming_pipeline_emits_cdf(spark, tmp_path):
    """emit_cdf=True on the streaming pipeline: the feed written during an
    availableNow replay folds back to the final table state (text is
    normalized by the pipeline, so compare against the normalized table)."""
    from feedgen import generate_changes
    from couch_to_mongo_spark.streaming.cdc import CdcPipeline

    generate_changes(
        str(tmp_path / "changes"), n_events=1500, n_convs=20, seed=63, n_files=3
    )
    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        max_files_per_trigger=1,
        emit_cdf=True,
    ).run_available()
    feed = pipe.cdf.read(pipe.table).toPandas()
    assert len(feed) > 0 and feed["_batch_id"].nunique() >= 3
    folded = _fold(feed)
    state = read_state(pipe.table).toPandas()
    assert {(r["conv_id"], r["turn_idx"]) for _, r in state.iterrows()} == set(folded)
    for _, r in state.iterrows():
        assert folded[(r["conv_id"], r["turn_idx"])] == r["text"]


def test_cdf_replay_is_idempotent_and_orphans_excluded(spark, tmp_path):
    table, cdf, pdf, _ = _setup(spark, tmp_path, n_events=1000)
    n_before = cdf.read(table).count()

    # fenced replay: merge skips, no duplicate feed rows
    res = merge_batch(
        table, spark.createDataFrame(pdf.iloc[0:500]), run_id="r", batch_id=0, cdf=cdf
    )
    assert res.skipped
    assert cdf.read(table).count() == n_before

    # orphan: a batch written to the feed whose commit never landed is
    # invisible to fence-aware reads, visible to raw reads
    from pyspark.sql import functions as F

    orphan = (
        cdf.read(table, committed_only=False)
        .limit(5)
        .withColumn("_batch_id", F.lit(999))
    )
    cdf.append(orphan, run_id="r", batch_id=999)
    assert cdf.read(table).count() == n_before
    assert cdf.read(table, committed_only=False).count() == n_before + 5


def test_cdf_redelivery_under_new_run_emits_nothing(spark, tmp_path):
    """The r03 review finding: a replay under a NEW run_id (checkpoint
    loss) re-applies rows that all LOSE or TIE the LWW — the table doesn't
    change, so the feed must not change either (previously emitted stale
    update_postimage rows that made a feed fold diverge from the table)."""
    table, cdf, pdf, _ = _setup(spark, tmp_path, n_events=1000)
    feed_before = cdf.read(table, committed_only=False).toPandas()

    for i, lo in enumerate(range(0, len(pdf), 500)):
        merge_batch(
            table,
            spark.createDataFrame(pdf.iloc[lo : lo + 500]),
            run_id="replay-run",
            batch_id=i,
            cdf=cdf,
        )
    feed_after = cdf.read(table, committed_only=False).toPandas()
    replayed = feed_after[feed_after["_run_id"] == "replay-run"]
    assert len(replayed) == 0, replayed["_change_type"].value_counts()
    assert len(feed_after) == len(feed_before) + 0


def test_cdf_tombstone_semantics(spark, tmp_path):
    """Stale row under an existing tombstone emits nothing (the table stays
    dead); a genuinely newer row re-inserting a deleted key emits insert."""
    import pandas as pd

    from couch_to_mongo_spark.operators.merge import with_engine_schema
    from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA

    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=2
    )
    cdf = ChangeFeedLog(spark, str(tmp_path / "cdf"))
    base = make_changes_df(n_events=50, n_convs=3, seed=64, delete_frac=0.0)
    proto = base.iloc[0]
    key = dict(conv_id=proto["conv_id"], turn_idx=proto["turn_idx"])

    def row(seq, op, text):
        r = proto.copy()
        r["seq"], r["op"], r["text"], r["_rev"] = seq, op, text, f"{seq}-x"
        return r

    # b0: insert (seq=10); b1: delete (seq=20)
    merge_batch(table, spark.createDataFrame(pd.DataFrame([row(10, "i", "v1")])),
                run_id="r", batch_id=0, cdf=cdf)
    merge_batch(table, spark.createDataFrame(pd.DataFrame([row(20, "d", "v1")])),
                run_id="r", batch_id=1, cdf=cdf)
    # b2: STALE update (seq=15, below the tombstone) -> must emit nothing
    merge_batch(table, spark.createDataFrame(pd.DataFrame([row(15, "u", "stale")])),
                run_id="r", batch_id=2, cdf=cdf)
    # b3: newer re-insert (seq=30) -> must emit insert
    merge_batch(table, spark.createDataFrame(pd.DataFrame([row(30, "u", "v2")])),
                run_id="r", batch_id=3, cdf=cdf)

    feed = cdf.read(table).toPandas()
    by_batch = {
        b: list(g["_change_type"]) for b, g in feed.groupby("_batch_id")
    }
    assert by_batch[0] == ["insert"]
    assert by_batch[1] == ["delete"]
    assert 2 not in by_batch, by_batch.get(2)
    assert by_batch[3] == ["insert"]
    state = read_state(table).toPandas()
    live = state[(state.conv_id == key["conv_id"]) & (state.turn_idx == key["turn_idx"])]
    assert list(live["text"]) == ["v2"]


def test_cdf_feeds_a_downstream_replica_stream(spark, tmp_path):
    """CDC-out end to end: a Structured Streaming consumer tails the change
    feed and MERGEs it into a second LakeTable — the replica converges to
    the primary's exact live state (replication chains compose)."""
    from pyspark.sql import functions as F

    from couch_to_mongo_spark.operators.cdf import feed_as_stream

    table, cdf, pdf, _ = _setup(spark, tmp_path, n_events=1500)

    feed_schema = cdf.read(table, committed_only=False).schema
    mirror = LakeTable.create(
        spark, str(tmp_path / "mirror"), with_engine_schema(TRANSCRIPT_SCHEMA),
        n_buckets=2,
    )

    def apply_batch(batch_df, batch_id):
        # post-images + tombstones only; the feed's _seq/_rev drive the
        # replica's own LWW, so redelivery is harmless
        rows = (
            batch_df.where(
                F.col("_change_type").isin("insert", "update_postimage", "delete")
            )
            .withColumn(
                "op", F.when(F.col("_change_type") == "delete", "d").otherwise("u")
            )
            .withColumnRenamed("_seq", "seq")
            .drop("_change_type", "_run_id", "_batch_id", "_deleted")
        )
        from couch_to_mongo_spark.operators.merge import merge_batch as mb

        mb(mirror, rows, run_id="mirror", batch_id=batch_id)

    q = (
        feed_as_stream(spark, cdf.root, feed_schema, max_files_per_trigger=2)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "mirror_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # availableNow stops on its own; awaitTermination(t) returns False on
    # timeout WITHOUT the stream being done — asserting the return value
    # turns a host-throttle stall into a loud timeout instead of a
    # confusing row-count mismatch downstream.
    assert q.awaitTermination(300), "replica stream did not drain in 300s"

    primary = read_state(table).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    replica = read_state(mirror).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(primary) == len(replica)
    assert (primary["conv_id"] == replica["conv_id"]).all()
    assert (primary["turn_idx"] == replica["turn_idx"]).all()
    assert (primary["text"] == replica["text"]).all()


def test_cdf_expire_retention(spark, tmp_path):
    """Feed retention drops batches below (fence high-water - keep), keeps
    the tail and never-committed (orphan) runs."""
    table, cdf, pdf, _ = _setup(spark, tmp_path, n_events=1500)  # batches 0..2
    from pyspark.sql import functions as F

    orphan = (
        cdf.read(table, committed_only=False)
        .limit(3)
        .withColumn("_run_id", F.lit("ghost"))
        .withColumn("_batch_id", F.lit(0))
    )
    cdf.append(orphan, run_id="ghost", batch_id=0)

    removed = cdf.expire(table, keep_batches=2)
    assert [d for d in removed if "run=r/" in d or "/run=r" in d]
    feed = cdf.read(table, committed_only=False).toPandas()
    kept = set(feed[feed["_run_id"] == "r"]["_batch_id"].unique())
    assert kept == {1, 2}  # batch 0 <= 2 - 2 expired
    # ghost run untouched (no fence entry)
    import os

    assert os.path.isdir(os.path.join(cdf.root, "run=ghost", "batch=00000000"))


def test_empty_feed_reads_with_full_schema(spark, tmp_path):
    """A never-written feed must read as an empty frame with the FULL feed
    schema (table columns minus _deleted + meta columns) when the table is
    given, so selects/unions behave identically in the empty case."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    cdf = ChangeFeedLog(spark, str(tmp_path / "cdf"))
    empty = cdf.read(table=table)
    assert empty.count() == 0
    table_cols = [f.name for f in table.snapshot().schema.fields if f.name != "_deleted"]
    assert empty.columns == table_cols + ["_change_type", "_run_id", "_batch_id"]
    # selecting table columns must not raise, and unioning with a real
    # feed read must line up by name
    empty.select("conv_id", "turn_idx", "text").count()

    pdf = make_changes_df(n_events=200, n_convs=5, seed=7)
    merge_batch(table, spark.createDataFrame(pdf), run_id="r", batch_id=0, cdf=cdf)
    real = cdf.read(table=table)
    assert empty.unionByName(real).count() == real.count()
