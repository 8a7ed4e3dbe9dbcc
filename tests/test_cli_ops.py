"""submit_main operational subcommands added with the round-3 surface:
rescale (atomic bucket re-key) and changes (fence-aware CDF read)."""

from __future__ import annotations

import json

import submit_main
from couch_to_mongo_spark.streaming.cdc import CdcPipeline

from feedgen import generate_changes


def test_rescale_and_changes_cli(spark, tmp_path, capsys):
    generate_changes(
        str(tmp_path / "changes"), n_events=800, n_convs=10, seed=71, n_files=2
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

    submit_main.main(["changes", "--table", pipe.table_path, "--limit", "5"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 5
    assert all("_change_type" in l for l in lines)

    submit_main.main(["rescale", "--table", pipe.table_path, "--n-buckets", "8"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["new_n_buckets"] == 8 and out["op"] == "rescale"

    submit_main.main(["state", "--table", pipe.table_path])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["live_rows"] > 0

    submit_main.main(["state", "--table", pipe.table_path, "--buckets"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    b = st["buckets"]
    assert sum(b["files_per_bucket"].values()) == st["n_files"]
    assert b["max_files_in_bucket"] >= 1
    assert b["manifest_bytes"] > 0 and b["n_manifests"] >= 1


def test_render_cli_exports_training_docs(spark, tmp_path, capsys):
    """render: one ordered doc per conversation from live state; --pack
    also emits fixed-length sequence spans that tile exactly."""
    generate_changes(
        str(tmp_path / "changes"), n_events=600, n_convs=8, seed=72, n_files=2
    )
    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        max_files_per_trigger=1,
    ).run_available()

    from couch_to_mongo_spark.operators.merge import read_state
    from couch_to_mongo_spark.tableformat import LakeTable

    state = read_state(LakeTable(spark, pipe.table_path))
    n_convs = state.select("conv_id").distinct().count()

    out_dir = str(tmp_path / "export")
    submit_main.main(["render", "--table", pipe.table_path, "--out", out_dir])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n_conversations"] == n_convs

    docs = spark.read.parquet(out_dir).toPandas()
    assert set(docs.columns) == {"conv_id", "n_turns", "n_chars", "doc"}
    assert int(docs["n_turns"].sum()) == state.count()
    # role tags present when the state carries roles
    if "role" in state.columns:
        assert docs["doc"].str.contains(": ").any()

    packed_dir = str(tmp_path / "export_packed")
    submit_main.main(
        ["render", "--table", pipe.table_path, "--out", packed_dir,
         "--pack-seq-len", "32", "--pack-shards", "2"]
    )
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n_conversations"] == n_convs
    assert res["n_sequence_spans"] > 0
    spans = spark.read.parquet(packed_dir + "/sequences").toPandas()
    sums = spans.groupby(["shard", "seq_id"])["n_toks"].sum()
    for shard in spans["shard"].unique():
        s = sums.loc[shard].sort_index()
        assert (s.iloc[:-1] == 32).all() and s.iloc[-1] <= 32


def test_render_cli_drop_boilerplate(spark, tmp_path, capsys):
    """--drop-boilerplate removes turns shared across >= K conversations
    before rendering; a high threshold is a no-op."""
    generate_changes(
        str(tmp_path / "changes"), n_events=600, n_convs=8, seed=73, n_files=1
    )
    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
    ).run_available()

    out_all = str(tmp_path / "all")
    submit_main.main(["render", "--table", pipe.table_path, "--out", out_all])
    n_all = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    total_all = int(
        spark.read.parquet(out_all).toPandas()["n_turns"].sum()
    )

    out_noop = str(tmp_path / "noop")
    submit_main.main(
        ["render", "--table", pipe.table_path, "--out", out_noop,
         "--drop-boilerplate", "10000"]
    )
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert int(
        spark.read.parquet(out_noop).toPandas()["n_turns"].sum()
    ) == total_all

    out_cut = str(tmp_path / "cut")
    submit_main.main(
        ["render", "--table", pipe.table_path, "--out", out_cut,
         "--drop-boilerplate", "2"]
    )
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    total_cut = int(
        spark.read.parquet(out_cut).toPandas()["n_turns"].sum()
    )
    assert total_cut <= total_all


def test_view_catchup_cli(spark, tmp_path, capsys):
    """view-catchup: a primary replayed WITHOUT view maintenance is
    brought current by the repair command; a second invocation reports
    already_current. Then replay --view-refresh-every drives the deferred
    mode end to end from the CLI."""
    from couch_to_mongo_spark.functions.transcripts import render_conversations
    from couch_to_mongo_spark.operators.merge import read_state

    generate_changes(
        str(tmp_path / "changes"), n_events=600, n_convs=8, seed=77, n_files=2
    )
    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
    ).run_available()

    submit_main.main(
        ["view-catchup", "--table", pipe.table_path, "--view", str(tmp_path / "view")]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["caught_up"] and out["rows_applied"] > 0

    submit_main.main(
        ["view-catchup", "--table", pipe.table_path, "--view", str(tmp_path / "view")]
    )
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["already_current"]

    from couch_to_mongo_spark.operators.corpus_view import RenderedCorpusView
    view = RenderedCorpusView(spark, pipe.table, str(tmp_path / "view"))
    got = {r["conv_id"]: r["doc"] for r in view.read().collect()}
    want = {
        r["conv_id"]: r["doc"]
        for r in render_conversations(read_state(pipe.table)).collect()
    }
    assert got == want

    # deferred mode from the CLI on a fresh table
    submit_main.main([
        "replay", "--table", str(tmp_path / "t2"), "--changes",
        str(tmp_path / "changes"), "--checkpoint", str(tmp_path / "ckpt2"),
        "--n-buckets", "4", "--maintain-view", str(tmp_path / "view2"),
        "--view-refresh-every", "2", "--max-files-per-trigger", "1",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["batches_applied"] == 2
    from couch_to_mongo_spark.tableformat import LakeTable
    t2 = LakeTable(spark, str(tmp_path / "t2"))
    view2 = RenderedCorpusView(spark, t2, str(tmp_path / "view2"))
    got2 = {r["conv_id"]: r["doc"] for r in view2.read().collect()}
    want2 = {
        r["conv_id"]: r["doc"]
        for r in render_conversations(read_state(t2)).collect()
    }
    assert got2 == want2


def test_tail_cli_runs_the_supervised_tail(spark, tmp_path, monkeypatch):
    """`tail` runs CdcPipeline.tail, the restart-on-drift loop, so feed
    drift in the middle of a tail restarts the stream instead of ending
    the query; no unsupervised stream handle is started."""
    calls = []
    monkeypatch.setattr(
        CdcPipeline, "tail", lambda self, **kw: calls.append(kw) or self
    )

    def raw_handle(self, *a, **k):
        raise AssertionError("tail started an unsupervised stream handle")

    monkeypatch.setattr(CdcPipeline, "start_continuous", raw_handle, raising=False)
    rc = submit_main.main([
        "tail", "--table", str(tmp_path / "table"), "--changes",
        str(tmp_path / "changes"), "--checkpoint", str(tmp_path / "ckpt"),
        "--n-buckets", "4", "--trigger", "1 second",
    ])
    assert rc == 0
    assert calls == [{"processing_time": "1 second"}]
