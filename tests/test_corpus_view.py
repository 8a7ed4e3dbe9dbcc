"""Incrementally-maintained rendered-corpus view (operators/corpus_view):
after every batch the O(changed) refresh must equal a full re-render of
the primary's live state; dead conversations vanish; replay is fenced."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from couch_to_mongo_spark.functions.transcripts import render_conversations
from couch_to_mongo_spark.operators.corpus_view import RenderedCorpusView
from couch_to_mongo_spark.operators.merge import (
    merge_batch,
    read_state,
    with_engine_schema,
)
from couch_to_mongo_spark.tableformat import LakeTable

PAYLOAD = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def _batch(spark, rows, seq_start):
    """rows: (conv_id, turn_idx, text, op) — seq assigned in order."""
    return spark.createDataFrame(
        [(c, t, x, o, seq_start + i) for i, (c, t, x, o) in enumerate(rows)],
        "conv_id string, turn_idx int, text string, op string, seq long",
    )


def _full_rebuild(primary):
    return {
        r["conv_id"]: (r["n_turns"], r["n_chars"], r["doc"])
        for r in render_conversations(read_state(primary)).collect()
    }


def _view_state(view):
    return {
        r["conv_id"]: (r["n_turns"], r["n_chars"], r["doc"])
        for r in view.read().collect()
    }


def test_incremental_refresh_matches_full_rebuild(spark, tmp_path):
    primary = LakeTable.create(
        spark, str(tmp_path / "primary"), with_engine_schema(PAYLOAD), n_buckets=4
    )
    view = RenderedCorpusView(
        spark, primary, str(tmp_path / "view"), n_buckets=2
    )

    batches = [
        # batch 0: three conversations
        [("a", 0, "a0", "u"), ("a", 1, "a1", "u"),
         ("b", 0, "b0", "u"), ("c", 0, "c0", "u")],
        # batch 1: update a turn, extend a conv, touch nothing in c
        [("a", 1, "a1-v2", "u"), ("b", 1, "b1", "u")],
        # batch 2: tombstone ALL of b's turns -> b must leave the view
        [("b", 0, None, "d"), ("b", 1, None, "d"), ("c", 1, "c1", "u")],
    ]
    seq = 0
    for i, rows in enumerate(batches):
        b = _batch(spark, rows, seq)
        seq += len(rows)
        merge_batch(primary, b, run_id="r", batch_id=i)
        res = view.refresh(
            b.select("conv_id"), seq=seq - 1, run_id="view", batch_id=i
        )
        assert not res.skipped
        assert _view_state(view) == _full_rebuild(primary)

    final = _view_state(view)
    assert "b" not in final
    assert final["a"] == (2, len("a0\na1-v2"), "a0\na1-v2")
    assert final["c"][2] == "c0\nc1"


def test_refresh_replay_is_fenced(spark, tmp_path):
    primary = LakeTable.create(
        spark, str(tmp_path / "primary"), with_engine_schema(PAYLOAD), n_buckets=4
    )
    view = RenderedCorpusView(spark, primary, str(tmp_path / "view"), n_buckets=2)

    b0 = _batch(spark, [("a", 0, "a0", "u"), ("b", 0, "b0", "u")], 0)
    merge_batch(primary, b0, run_id="r", batch_id=0)
    view.refresh(b0.select("conv_id"), seq=1, run_id="view", batch_id=0)
    before = _view_state(view)

    # replaying the SAME view batch is a fence no-op even if the primary
    # has advanced meanwhile (crash-replay of the maintenance job)
    b1 = _batch(spark, [("a", 1, "a1", "u")], 2)
    merge_batch(primary, b1, run_id="r", batch_id=1)
    res = view.refresh(b0.select("conv_id"), seq=1, run_id="view", batch_id=0)
    assert res.skipped
    assert _view_state(view) == before

    # the NEXT batch id applies and reconverges
    view.refresh(b1.select("conv_id"), seq=2, run_id="view", batch_id=1)
    assert _view_state(view) == _full_rebuild(primary)


def test_refresh_untouched_convs_not_reread(spark, tmp_path):
    """The refresh's primary scan is bucket-pruned: a refresh for one
    conversation must not read buckets that hold only other convs."""
    primary = LakeTable.create(
        spark, str(tmp_path / "primary"), with_engine_schema(PAYLOAD),
        n_buckets=8,
    )
    view = RenderedCorpusView(spark, primary, str(tmp_path / "view"), n_buckets=2)
    rows = [(f"conv{i}", t, f"x{i}.{t}", "u") for i in range(12) for t in range(3)]
    b = _batch(spark, rows, 0)
    merge_batch(primary, b, run_id="r", batch_id=0)
    view.refresh(b.select("conv_id"), seq=len(rows) - 1, run_id="view", batch_id=0)

    one = _batch(spark, [("conv3", 1, "updated", "u")], 100)
    merge_batch(primary, one, run_id="r", batch_id=1)

    from couch_to_mongo_spark.operators.merge import resolve_live_state
    from couch_to_mongo_spark.tableformat import bucket_expr
    from pyspark.sql import functions as F

    n_b = primary.snapshot(materialize=False).n_buckets
    tb = [
        r["b"]
        for r in one.select(bucket_expr("conv_id", n_b).alias("b"))
        .distinct()
        .collect()
    ]
    pruned = resolve_live_state(primary.read_buckets(tb))
    convs_in_pruned = {
        r["conv_id"] for r in pruned.select("conv_id").distinct().collect()
    }
    # the pruned read sees conv3's bucket only — strictly fewer convs
    # than the table (hash spreading 12 convs over 8 buckets)
    assert "conv3" in convs_in_pruned
    assert len(convs_in_pruned) < 12

    view.refresh(one.select("conv_id"), seq=100, run_id="view", batch_id=1)
    assert _view_state(view) == _full_rebuild(primary)


def test_pipeline_maintains_corpus_view(spark, tmp_path):
    """CdcPipeline(maintain_view=...): after the stream drains, the view
    equals a full re-render of the live state; a crash-replay under the
    same checkpoint fences every batch and leaves the view converged."""
    from feedgen import generate_changes
    from couch_to_mongo_spark.streaming.cdc import CdcPipeline

    generate_changes(
        str(tmp_path / "changes"), n_events=1200, n_convs=12, seed=74, n_files=3
    )
    kw = dict(
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        max_files_per_trigger=1,
        maintain_view=str(tmp_path / "view"),
    )
    pipe = CdcPipeline(spark, **kw).run_available()
    assert pipe.batches_applied >= 3

    expected = {
        r["conv_id"]: (r["n_turns"], r["doc"])
        for r in render_conversations(read_state(pipe.table)).collect()
    }
    got = {
        r["conv_id"]: (r["n_turns"], r["doc"])
        for r in pipe.view.read().collect()
    }
    assert got == expected

    # same checkpoint: the file source redelivers nothing (source-level
    # exactly-once) — zero batches, view untouched
    pipe2 = CdcPipeline(spark, **kw).run_available()
    assert pipe2.batches_applied == 0 and pipe2.batches_fenced == 0

    # cross-run re-application (new checkpoint -> new run id, same
    # events): primary AND view reconverge by LWW on the same seqs
    kw3 = dict(kw, checkpoint_dir=str(tmp_path / "ckpt2"))
    pipe3 = CdcPipeline(spark, **kw3).run_available()
    assert pipe3.batches_applied >= 3
    got3 = {
        r["conv_id"]: (r["n_turns"], r["doc"])
        for r in pipe3.view.read().collect()
    }
    assert got3 == expected


def test_deferred_catch_up_converges_and_is_idempotent(spark, tmp_path):
    """corpus_view.catch_up: primary batches merged with NO per-batch view
    refresh (the crashed-deferred-maintenance state) must converge to the
    full rebuild in one metadata-floored catch-up; a second catch-up with
    an unchanged primary is a no-op that commits nothing."""
    primary = LakeTable.create(
        spark, str(tmp_path / "primary"), with_engine_schema(PAYLOAD), n_buckets=4
    )
    view = RenderedCorpusView(spark, primary, str(tmp_path / "view"), n_buckets=2)

    seq = 0
    for i, rows in enumerate(
        [
            [("a", 0, "a0", "u"), ("b", 0, "b0", "u"), ("c", 0, "c0", "u")],
            [("a", 1, "a1", "u"), ("b", 1, "b1", "u")],
        ]
    ):
        b = _batch(spark, rows, seq)
        seq += len(rows)
        merge_batch(primary, b, run_id="r", batch_id=i)
        # crash before any view refresh: nothing maintained

    assert primary.seq_high_water() == seq - 1  # metadata floor is live
    res = view.catch_up(run_id="cu")
    assert res is not None and not res.skipped
    assert _view_state(view) == _full_rebuild(primary)

    # already current: None, and no new view snapshot version
    v_before = view.view.latest_version()
    assert view.catch_up(run_id="cu") is None
    assert view.view.latest_version() == v_before

    # more un-refreshed batches, including a full tombstone of b
    b2 = _batch(
        spark, [("b", 0, None, "d"), ("b", 1, None, "d"), ("c", 1, "c1", "u")], seq
    )
    merge_batch(primary, b2, run_id="r", batch_id=2)
    res2 = view.catch_up(run_id="cu")
    assert res2 is not None and not res2.skipped
    final = _view_state(view)
    assert final == _full_rebuild(primary)
    assert "b" not in final


def test_pipeline_deferred_view_refresh(spark, tmp_path):
    """CdcPipeline(view_refresh_every=3): per-batch refresh is skipped,
    catch-ups run every 3rd batch and at end of run; the drained view
    equals the full rebuild, and a crash-replay converges identically."""
    from feedgen import generate_changes
    from couch_to_mongo_spark.streaming.cdc import CdcPipeline

    generate_changes(
        str(tmp_path / "changes"), n_events=1200, n_convs=12, seed=75, n_files=4
    )
    kw = dict(
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        max_files_per_trigger=1,
        maintain_view=str(tmp_path / "view"),
        view_refresh_every=3,
    )
    pipe = CdcPipeline(spark, **kw).run_available()
    assert pipe.batches_applied == 4
    expected = {
        r["conv_id"]: (r["n_turns"], r["doc"])
        for r in render_conversations(read_state(pipe.table)).collect()
    }
    got = {
        r["conv_id"]: (r["n_turns"], r["doc"]) for r in pipe.view.read().collect()
    }
    assert got == expected

    # new checkpoint, same events: primary and deferred view reconverge
    kw2 = dict(kw, checkpoint_dir=str(tmp_path / "ckpt2"))
    pipe2 = CdcPipeline(spark, **kw2).run_available()
    got2 = {
        r["conv_id"]: (r["n_turns"], r["doc"]) for r in pipe2.view.read().collect()
    }
    assert got2 == expected


def test_view_compaction_bounds_delta_files(spark, tmp_path):
    """Each refresh appends MOR deltas to the view; the wired compaction
    must keep per-bucket file counts bounded across many batches."""
    primary = LakeTable.create(
        spark, str(tmp_path / "primary"), with_engine_schema(PAYLOAD), n_buckets=2
    )
    view = RenderedCorpusView(spark, primary, str(tmp_path / "view"), n_buckets=1)
    seq = 0
    for i in range(10):
        rows = [("a", t, f"v{i}.{t}", "u") for t in range(3)]
        b = _batch(spark, rows, seq)
        seq += len(rows)
        merge_batch(primary, b, run_id="r", batch_id=i)
        view.refresh(b.select("conv_id"), seq=seq - 1, run_id="view", batch_id=i)
        view.maybe_compact(max_files_per_bucket=3)
    snap = view.view.snapshot()
    per_bucket = {b: len(fl) for b, fl in snap.files.items()}
    assert max(per_bucket.values()) <= 4  # threshold + in-flight delta
    assert _view_state(view) == _full_rebuild(primary)


def test_deferred_catch_up_covers_late_out_of_order_rows(spark, tmp_path):
    """r7 correctness fix (ADVICE r6 medium): a late event whose seq is <=
    the view's high-water mark can still win LWW on the primary (here:
    the FIRST row of a brand-new conversation). The catch-up changed-conv
    derivation must use FILE-level seq pruning only — the old row-level
    `_seq >= hwm+1` filter dropped the late row, so its conversation
    never entered the view (stale forever under view_refresh_every>1)."""
    primary = LakeTable.create(
        spark, str(tmp_path / "primary"), with_engine_schema(PAYLOAD), n_buckets=4
    )
    view = RenderedCorpusView(spark, primary, str(tmp_path / "view"), n_buckets=2)

    merge_batch(
        primary,
        _batch(spark, [("a", 0, "a0", "u"), ("b", 0, "b0", "u")], 0),
        run_id="r",
        batch_id=0,
    )
    assert view.catch_up(run_id="cu") is not None
    hwm = view.view.seq_high_water()

    # batch 1: a LATE first-row for new conv z (seq 1 <= view hwm) rides
    # in the same file as an in-order row that advances the primary hwm
    late = spark.createDataFrame(
        [("z", 0, "z0", "u", 1), ("a", 1, "a1", "u", hwm + 1)],
        "conv_id string, turn_idx int, text string, op string, seq long",
    )
    merge_batch(primary, late, run_id="r", batch_id=1)

    res = view.catch_up(run_id="cu")
    assert res is not None and not res.skipped
    final = _view_state(view)
    assert "z" in final, "late out-of-order conv must reach the view"
    assert final == _full_rebuild(primary)
