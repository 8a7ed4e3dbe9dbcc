"""Physical-plan assertions: the optimizer must actually deliver
(SURVEY.md §4). A correct-but-unpruned plan is a perf regression at 100 TB;
these tests fail it at CI time."""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from couch_to_mongo_spark.plans.inspect import (
    count_exchanges,
    count_partial_final_aggs,
    formatted_plan,
    has_broadcast_hash_join,
    has_top_k,
    pushed_filters,
    read_schema_columns,
)

SF = "/root/testdata/sf0.01"


def test_range_scan_pushdown_and_pruning(spark):
    df = E.q_range_scan(spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "user_id" in pf and "event_type" in pf, pf
    cols = read_schema_columns(df)[0]
    # 3-column projection must not read all 6 columns
    assert set(cols) <= {"event_id", "user_id", "value", "event_type"}, cols


def test_point_lookup_pushdown(spark):
    df = E.q_point_lookup(spark, SF)
    assert any("event_id" in f for f in pushed_filters(df))


def test_broadcast_join_chosen(spark):
    df = E.q_broadcast_enrich(spark, SF)
    assert has_broadcast_hash_join(df)
    # fact side shuffles once for the final agg at most
    assert count_exchanges(df) <= 1


def test_top1_is_take_ordered(spark):
    assert has_top_k(E.q_checkpoint_top1(spark, SF))
    assert has_top_k(E.q_q3_shipping(spark, SF))


def test_lww_is_partial_aggregation_single_shuffle(spark):
    """The read-side LWW fold must be a two-phase aggregate (max_by over a
    struct plans as a partial and a final SortAggregate; the map-side
    combine is the built-in skew defense) with exactly one shuffle."""
    df = E.q_lww_latest_state(spark, SF)
    assert count_exchanges(df) == 1, formatted_plan(df)
    assert count_partial_final_aggs(df) >= 2  # partial + final


def test_q1_single_shuffle_partial_agg(spark):
    df = E.q_q1_pricing(spark, SF)
    assert count_exchanges(df) == 1
    assert count_partial_final_aggs(df) >= 2
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf


def test_lineitem_scan_prunes_columns(spark):
    df = E.q_q1_pricing(spark, SF)
    cols = read_schema_columns(df)[0]
    # Q1 needs 6 of lineitem's 16 columns
    assert len(cols) <= 7, cols


def test_anti_join_no_cartesian(spark):
    plan = formatted_plan(E.q_anti_join_new_keys(spark, SF))
    assert "LeftAnti" in plan or "left_anti" in plan.lower()
    assert "Cartesian" not in plan


def test_jaccard_joins_on_hashed_shingle(spark):
    """The self-join key must be the 8-byte hash, not the shingle text —
    the shuffle payload at 100 TB depends on it."""
    df = E.q_ngram_jaccard(spark, SF)
    plan = formatted_plan(df)
    assert "conv(substring(md5" in plan.replace(" ", "").lower() or "conv" in plan.lower(), plan


def test_fast_merge_single_shuffle(spark):
    """The MOR fast path's whole apply (bucket partition -> LWW dedup) must
    cost exactly ONE exchange, with the window planned as
    Sort+WindowGroupLimit on the existing partitioning."""
    from pyspark.sql import functions as F
    from couch_to_mongo_spark.operators.dedup import bucket_partitioned_lww

    df = spark.range(10000).select(
        F.concat(F.lit("c"), (F.col("id") % 100).cast("string")).alias("conv_id"),
        (F.col("id") % 40).cast("int").alias("turn_idx"),
        F.col("id").alias("seq"),
        F.lit(1).alias("rev_gen"),
        F.md5(F.col("id").cast("string")).alias("_rev"),
    )
    out = bucket_partitioned_lww(
        df, ["conv_id", "turn_idx"], ["seq", "rev_gen", "_rev"], n_buckets=16
    )
    plan = formatted_plan(out)
    assert count_exchanges(out) == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_merge_starts_no_job_besides_its_write(spark, tmp_path):
    """Without a change feed, merge_batch runs no Spark job besides its own
    bucketed write, which AQE runs as two jobs (the bucket shuffle's map
    stage, then the write). Lineage rides on that write: the source seq
    range from an Observation, rows applied from the parquet footers — no
    seq-range aggregate, touched-bucket collect or classification join."""
    from couch_to_mongo_spark.gen import make_changes_df
    from couch_to_mongo_spark.operators.merge import merge_batch, with_engine_schema
    from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
    from couch_to_mongo_spark.tableformat import LakeTable

    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    pdf = make_changes_df(n_events=600, n_convs=10, seed=1)
    sc = spark.sparkContext
    for i in range(2):  # the second batch lands on a non-empty table
        group = f"merge-jobs-{tmp_path.name}-{i}"
        sc.setJobGroup(group, "merge_batch")
        try:
            res = merge_batch(
                table, spark.createDataFrame(pdf.iloc[i * 300 : (i + 1) * 300]),
                run_id="r", batch_id=i,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 1 <= len(jobs) <= 2, jobs
        assert (res.seq_min, res.seq_max) == (i * 300, i * 300 + 299)
        assert res.rows_applied > 0
        assert (res.n_inserts, res.n_updates, res.n_deletes) == (None, None, None)


def test_read_state_key_filter_reaches_scan(spark, tmp_path):
    """A point lookup over the merge-on-read fold filters in the parquet
    scan: the LWW fold emits the keys from its group keys, so the conv
    filter pushes below the aggregate (LWW is per key, so the rows are
    the same as filtering the folded table)."""
    from pyspark.sql import functions as F

    from couch_to_mongo_spark.gen import make_changes_df
    from couch_to_mongo_spark.operators.merge import (
        merge_batch,
        read_state,
        with_engine_schema,
    )
    from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
    from couch_to_mongo_spark.tableformat import LakeTable

    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    pdf = make_changes_df(n_events=900, n_convs=12, seed=5, delete_frac=0.1)
    for i in range(3):
        merge_batch(
            table, spark.createDataFrame(pdf.iloc[i * 300 : (i + 1) * 300]),
            run_id="r", batch_id=i,
        )
    c = pdf["conv_id"].iloc[0]
    df = read_state(table).where(F.col("conv_id") == c)
    # pushed_filters splits entries on commas: EqualTo(conv_id,c) -> 2
    pf = pushed_filters(df)
    assert "EqualTo(conv_id" in pf and f"{c})" in pf, formatted_plan(df)
    keys = ["conv_id", "turn_idx"]
    whole = read_state(table).toPandas()
    want = whole[whole["conv_id"] == c].sort_values(keys).reset_index(drop=True)
    got = df.toPandas().sort_values(keys).reset_index(drop=True)
    assert len(want) > 0
    assert got.equals(want)


def test_curate_corpus_no_cartesian_single_scan_branches(spark):
    """The composed curation pipeline: id equi-joins only (no cartesian);
    the exact keeper is a window min over the fingerprint riding the
    quality-feature scan (r6 — no separate fingerprint scan + join-back),
    and the remaining aggregations are partial/final hash aggs."""
    df = E.q_curate_corpus(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan  # keeper election: min(id) over _fp
    assert count_partial_final_aggs(df) >= 2  # repetition/LSH map-side combine


def test_decontaminate_broadcasts_benchmark_side(spark):
    """Containment against a small benchmark set must broadcast the
    benchmark shingles — and NOTHING corpus-sized may cross an exchange
    before the broadcast join (a pre-join corpus `distinct` was the single
    largest shuffle in the repo at the 10^10-doc framing: a full hash
    exchange of every (doc, shingle) pair, spent before the filter that
    discards ~100% of it)."""
    for q in (E.q_decontaminate, E.q_decontaminate_spans):
        df = q(spark, SF)
        plan = formatted_plan(df)
        assert has_broadcast_hash_join(df), plan
        assert "CartesianProduct" not in plan
        # exactly: benchmark-side distinct (1) + post-join two-phase
        # distinct-count agg (2); a corpus-side pre-join shuffle adds more
        assert count_exchanges(df) == 3, plan
        # the corpus branch is the join's LEFT (streamed) child: in the
        # formatted tree its lines carry the ':' continuation prefix —
        # no shuffle Exchange may appear there
        tree = plan.split("\n\n")[0]
        corpus_side = [
            ln for ln in tree.splitlines()
            if ln.lstrip().startswith(":") and "Exchange" in ln
        ]
        assert not corpus_side, corpus_side


def test_render_conversations_single_shuffle(spark):
    """Conversation assembly is ONE exchange (groupBy conv) with a
    partial/final ObjectHashAggregate pair — no window, no sort exchange."""
    df = E.q_render_conversations(spark, SF)
    plan = formatted_plan(df)
    # fold (1 exchange for the LWW groupBy) + conversation groupBy (1)
    assert count_exchanges(df) == 2, plan
    assert "Window" not in plan, plan


def test_boilerplate_turns_no_cartesian_bounded_shuffles(spark):
    """The C4 turn-boilerplate rule: countDistinct agg + hash join back.
    The counts side must reuse its aggregation partitioning — total
    exchanges stay bounded (fold + agg + join-side), no cartesian, no
    collect_set window."""
    df = E.q_boilerplate_turns(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert count_exchanges(df) <= 4, plan


def test_corpus_view_refresh_plan_shape(spark, tmp_path):
    """The view refresh must be the O(changed) shape: broadcast semi-join
    against the changed-conv set, no cartesian, and a scan limited to the
    touched buckets' files (bucket pruning happens at file-list level, so
    the parquet scan must name fewer files than the table holds)."""
    from pyspark.sql import types as T

    from couch_to_mongo_spark.operators.corpus_view import RenderedCorpusView
    from couch_to_mongo_spark.operators.merge import merge_batch, with_engine_schema
    from couch_to_mongo_spark.tableformat import LakeTable

    payload = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    primary = LakeTable.create(
        spark, str(tmp_path / "p"), with_engine_schema(payload), n_buckets=8
    )
    rows = [(f"c{i}", t, f"x{i}", "u", i * 4 + t) for i in range(16) for t in range(4)]
    b = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, op string, seq long"
    )
    merge_batch(primary, b, run_id="r", batch_id=0)

    view = RenderedCorpusView(spark, primary, str(tmp_path / "v"), n_buckets=2)
    one = spark.createDataFrame([("c3",)], "conv_id string")
    plan_df = view.plan_refresh(one, seq=99)
    plan = formatted_plan(plan_df)
    assert has_broadcast_hash_join(plan_df), plan
    assert "CartesianProduct" not in plan, plan
    # file-level pruning: c3 hashes to ONE of 8 buckets; the plan's scans
    # must not read all 8 buckets' files
    total_files = len(primary.snapshot().all_files())
    import re as _re

    counts = [int(m) for m in _re.findall(r"number of files: (\d+)", plan)]
    if counts:  # formatted plans include per-scan file counts
        assert max(counts) < total_files, (counts, total_files, plan)


def _write_plans(spark, run) -> list[str]:
    """The final executed-plan trees of the file writes ``run()`` starts,
    read from the SQL status store (kept with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return {seq.apply(i).executionId(): seq.apply(i) for i in range(seq.size())}

    seen = set(executions())
    run()
    trees = []
    for eid, ex in sorted(executions().items()):
        desc = ex.physicalPlanDescription()
        if eid in seen or "InsertIntoHadoopFsRelationCommand" not in desc:
            continue
        tree = desc.split("\n\n")[0]
        # AQE prints the final plan and then the initial one
        trees.append(tree.split("== Final Plan ==")[-1].split("== Initial Plan ==")[0])
    return trees


def test_every_bucketed_writer_plans_one_exchange(spark, tmp_path):
    """Bootstrap, merge (with the text normalizer), compaction and rescale
    write through one kernel: one Exchange (the bucket repartition, shared
    by the window LWW and the partitioned write), no aggregate and no
    Python evaluation node. Merge's write has one Sort, the window's: the
    normalizer is a JVM expression, so the key sort after it is redundant
    and the writer needs no sort of its own."""
    from couch_to_mongo_spark.bootstrap import bulk_bootstrap
    from couch_to_mongo_spark.functions.normalize import normalize_text
    from couch_to_mongo_spark.gen import make_changes_df
    from couch_to_mongo_spark.operators.compact import compact
    from couch_to_mongo_spark.operators.merge import merge_batch, with_engine_schema
    from couch_to_mongo_spark.operators.rescale import rescale_buckets
    from couch_to_mongo_spark.oracle import expected_state
    from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
    from couch_to_mongo_spark.tableformat import LakeTable
    from pyspark.sql import functions as F

    pdf = make_changes_df(n_events=600, n_convs=10, seed=7, delete_frac=0.1)
    src = spark.createDataFrame(expected_state(pdf, normalize=False))
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )

    def norm(df):
        return df.withColumn("text", normalize_text(F.col("text")))

    def merges():
        for i in range(2):
            batch = spark.createDataFrame(pdf[pdf.seq % 2 == i])
            merge_batch(table, batch, "r", i, transform_after_dedup=norm)

    writers = {
        "bootstrap": lambda: bulk_bootstrap(spark, str(tmp_path / "b"), src, n_buckets=4),
        "merge": merges,
        "compact": lambda: compact(table, max_files_per_bucket=1),
        "rescale": lambda: rescale_buckets(table, 8),
    }
    for name, run in writers.items():
        trees = _write_plans(spark, run)
        assert trees, name
        for tree in trees:
            assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 1, (name, tree)
            assert "Aggregate" not in tree, (name, tree)
            for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
                assert node not in tree, (name, tree)
            if name == "merge":
                assert len(re.findall(r"\bSort \(\d+\)", tree)) == 1, tree
