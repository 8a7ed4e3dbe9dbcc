"""Unit tests: dedup kernels, normalizer, schema evolution, rev parsing,
bootstrap, compaction (SURVEY.md §5.1)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couch_to_mongo_spark.functions.normalize import normalize_text, normalize_text_py
from couch_to_mongo_spark.operators.dedup import (
    bucket_partitioned_lww,
    lww_dedup,
    with_rev_gen,
)
from couch_to_mongo_spark.operators.schema_evolution import align_to_schema, evolve_schema


def _changes(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["seq", "conv_id", "turn_idx", "_rev", "text"])
    )


DUPS = [
    (1, "a", 0, "1-aa", "v1"),
    (5, "a", 0, "2-bb", "v2"),
    (3, "a", 0, "2-aa", "v1b"),  # lower seq loses despite same gen
    (2, "b", 1, "1-zz", "w1"),
    (4, "b", 1, "1-zz", "w2"),  # same rev, higher seq wins
    (6, "c", 2, "9-xx", "only"),
]


def test_two_dedup_kernels_agree(spark):
    df = with_rev_gen(_changes(spark, DUPS))
    order = ["seq", "rev_gen", "_rev"]
    keys = ["conv_id", "turn_idx"]
    a = lww_dedup(df, keys, order).orderBy(*keys).collect()
    b = (
        bucket_partitioned_lww(df, keys, order, n_buckets=3)
        .drop("_bucket")
        .orderBy(*keys)
        .collect()
    )
    rows_a = [(r.conv_id, r.turn_idx, r.seq, r.text) for r in a]
    rows_b = [(r.conv_id, r.turn_idx, r.seq, r.text) for r in b]
    assert rows_a == rows_b
    assert rows_a == [("a", 0, 5, "v2"), ("b", 1, 4, "w2"), ("c", 2, 6, "only")]


def test_rev_gen_parsing(spark):
    df = spark.createDataFrame(
        [("1-abc",), ("12-ff00",), ("3-",), (None,)], ["_rev"]
    )
    out = [r.rev_gen for r in with_rev_gen(df).collect()]
    assert out == [1, 12, 3, 0]


def test_rev_tiebreak_same_seq(spark):
    """Duplicate seq (conflict replay): higher rev generation wins, then hash."""
    rows = [
        (7, "k", 0, "2-aa", "gen2a"),
        (7, "k", 0, "3-aa", "gen3"),
        (7, "k", 0, "2-zz", "gen2z"),
    ]
    df = with_rev_gen(_changes(spark, rows))
    w = lww_dedup(df, ["conv_id", "turn_idx"], ["seq", "rev_gen", "_rev"]).collect()
    assert w[0].text == "gen3"


NASTY = [
    "résumé  review",
    "  a\t\tb\nc  ",
    "",
    None,
    "régime — ok",
    "x",
]


def test_normalizer_matches_python_twin(spark):
    df = spark.createDataFrame([(s,) for s in NASTY], schema="text string")
    got = [r.n for r in df.select(normalize_text(F.col("text")).alias("n")).collect()]
    want = [normalize_text_py(s) for s in NASTY]
    assert got == want
    # NFD folded to NFC, whitespace collapsed
    assert got[0] == "résumé review"
    assert got[1] == "a b c"


def test_normalizer_matches_python_on_every_code_point(spark):
    """The JVM normalizer equals ``normalize_text_py`` on every
    non-surrogate code point, alone and after "a" (where combining marks
    compose), on every Hangul LV syllable + trailing jamo pair, and on
    None and ""."""
    cps = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    lv = [chr(0xAC00 + 28 * i) for i in range(19 * 21)]
    hangul = [s + chr(t) for s in lv for t in range(0x11A8, 0x11C3)]
    texts = [*cps, *("a" + c for c in cps), *hangul, None, ""]
    assert len(texts) == 2 * 1_112_064 + 399 * 27 + 2
    pdf = pd.DataFrame({"text": texts, "want": [normalize_text_py(s) for s in texts]})
    got = normalize_text(F.col("text"))
    bad = (
        spark.createDataFrame(pdf, schema="text string, want string")
        .where(~got.eqNullSafe(F.col("want")))
        .select("text", "want", got.alias("got"))
    )
    assert bad.limit(20).collect() == []


def test_evolve_schema_rules():
    base = T.StructType([T.StructField("a", T.StringType()), T.StructField("b", T.IntegerType())])
    add = T.StructType([T.StructField("b", T.IntegerType()), T.StructField("c", T.DoubleType())])
    out = evolve_schema(base, add)
    assert [f.name for f in out.fields] == ["a", "b", "c"]
    with pytest.raises(TypeError):
        evolve_schema(base, T.StructType([T.StructField("b", T.StringType())]))


def test_align_null_fills(spark):
    target = T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField("b", T.LongType()),
            T.StructField("c", T.StringType()),
        ]
    )
    df = spark.createDataFrame([("x", 1)], ["a", "b"])
    out = align_to_schema(df, target)
    assert out.columns == ["a", "b", "c"]
    row = out.collect()[0]
    assert row.c is None and row.b == 1


def test_bootstrap_bulk_copy(spark, tmp_path):
    from couch_to_mongo_spark.bootstrap import bulk_bootstrap
    from couch_to_mongo_spark.operators.merge import merge_batch, read_state
    from couch_to_mongo_spark.gen import make_changes_df
    from couch_to_mongo_spark.oracle import assert_state_parity, expected_state

    snap_pdf = (
        expected_state(make_changes_df(n_events=2000, n_convs=30, seed=43), normalize=False)
    )
    src = spark.createDataFrame(snap_pdf)
    table, res = bulk_bootstrap(
        spark, str(tmp_path / "t"), src, n_buckets=8, normalize=True
    )
    assert res.rows_applied == len(snap_pdf)
    # reference count-parity check (Couch.java:94 / Mongo.java:269-301)
    assert read_state(table).count() == len(snap_pdf)
    # rerun is a fenced no-op (resume == rerun)
    _, res2 = bulk_bootstrap(spark, str(tmp_path / "t"), src, n_buckets=8)
    assert res2.skipped

    # CDC events (seq >= 0) beat bootstrap rows (BOOTSTRAP_SEQ = -1)
    upd = make_changes_df(n_events=50, n_convs=30, seed=43)
    batch = spark.createDataFrame(upd[upd.op != "i"])
    merge_batch(table, batch, run_id="cdc", batch_id=0)
    exp = expected_state(make_changes_df(n_events=2000, n_convs=30, seed=43))
    got = read_state(table).toPandas()
    # keys: same final key set (updates replace, deletes remove)
    assert set(map(tuple, got[["conv_id", "turn_idx"]].values)) == set(
        map(tuple, exp[["conv_id", "turn_idx"]].values)
    )


def test_compaction_folds_files_and_preserves_state(spark, tmp_path):
    from couch_to_mongo_spark.gen import make_changes_df
    from couch_to_mongo_spark.operators.compact import compact
    from couch_to_mongo_spark.operators.merge import merge_batch, read_state, with_engine_schema
    from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
    from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
    from couch_to_mongo_spark.tableformat import LakeTable
    from couch_to_mongo_spark.functions.normalize import normalize_text

    import os as _os

    import pandas as _pd

    def assert_key_sorted(t, what):
        # every written file is key-ordered, so parquet row-group min/max
        # on the key stays tight for scan-time skipping
        for fl in t.snapshot().files.values():
            for rel in fl:
                f = _pd.read_parquet(_os.path.join(t.path, rel))
                keys = list(zip(f["conv_id"], f["turn_idx"]))
                assert keys == sorted(keys), f"{what} file {rel} not key-sorted"

    pdf = make_changes_df(n_events=3000, n_convs=20, seed=47, delete_frac=0.1)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    for i in range(6):  # 6 MOR batches -> ~6 delta files per bucket
        b = spark.createDataFrame(pdf[pdf.seq % 6 == i]).withColumn(
            "text", normalize_text(F.col("text"))
        )
        merge_batch(table, b, run_id="r", batch_id=i)
    before = max(len(fl) for fl in table.snapshot().files.values())
    assert before >= 5
    assert_key_sorted(table, "merge delta")

    state_before = read_state(table).toPandas()
    folded = compact(table, max_files_per_bucket=2)
    assert folded
    after = max(len(fl) for fl in table.snapshot().files.values())
    assert after == 1
    assert_state_parity(
        read_state(table).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
        expected_state(pdf),
    )

    assert_key_sorted(table, "compacted")

    # tombstone purge drops deleted rows physically
    compact(table, max_files_per_bucket=0, purge_tombstones=True)
    raw = table.read().toPandas()
    assert raw["_deleted"].sum() == 0
    assert_state_parity(
        read_state(table).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
        expected_state(pdf),
    )

    # a bootstrap writes its copy through the same kernel
    from couch_to_mongo_spark.bootstrap import bulk_bootstrap

    boot, _ = bulk_bootstrap(
        spark, str(tmp_path / "boot"), spark.createDataFrame(expected_state(pdf)), n_buckets=4
    )
    assert_key_sorted(boot, "bootstrap")


def test_merge_stats_classify_delete_reinsert(spark, tmp_path):
    """Lineage classification (filled for merges with a change feed
    attached) resolves the LWW winner (ADVICE r01): a reinsert after
    delete counts as an insert, and deleting an already-tombstoned key
    does not count as a delete."""
    from couch_to_mongo_spark.operators.cdf import ChangeFeedLog
    from couch_to_mongo_spark.operators.merge import with_engine_schema
    from couch_to_mongo_spark.operators.merge import merge_batch as _merge
    from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
    from couch_to_mongo_spark.tableformat import LakeTable

    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=2
    )
    cdf = ChangeFeedLog(spark, str(tmp_path / "cdf"))

    def merge_batch(*a, **k):
        return _merge(*a, cdf=cdf, **k)

    def b(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["seq", "op", "conv_id", "turn_idx", "_rev", "text"])
        )

    r0 = merge_batch(table, b([(0, "i", "c", 0, "1-a", "x")]), run_id="r", batch_id=0)
    assert (r0.n_inserts, r0.n_updates, r0.n_deletes) == (1, 0, 0)
    r1 = merge_batch(table, b([(1, "d", "c", 0, "2-a", None)]), run_id="r", batch_id=1)
    assert (r1.n_inserts, r1.n_updates, r1.n_deletes) == (0, 0, 1)
    # reinsert after delete: the LWW winner in the table is a tombstone,
    # so this is an INSERT (round-1 counted it as an update)
    r2 = merge_batch(table, b([(2, "i", "c", 0, "3-a", "y")]), run_id="r", batch_id=2)
    assert (r2.n_inserts, r2.n_updates, r2.n_deletes) == (1, 0, 0)
    # delete again after deleting: key is live -> counts
    r3 = merge_batch(table, b([(3, "d", "c", 0, "4-a", None)]), run_id="r", batch_id=3)
    assert (r3.n_inserts, r3.n_updates, r3.n_deletes) == (0, 0, 1)
    # delete of the already-tombstoned key: NOT a delete (round-1 counted it)
    r4 = merge_batch(table, b([(4, "d", "c", 0, "5-a", None)]), run_id="r", batch_id=4)
    assert (r4.n_inserts, r4.n_updates, r4.n_deletes) == (0, 0, 0)


def test_lineage_reads_with_null_first_row(spark, tmp_path):
    """Lineage files share one int64 schema: a row with a null seq range
    (an empty batch) and null counts (no change feed attached) written
    first must not break the multi-file reads."""
    from couch_to_mongo_spark.streaming.lineage import LineageLog

    log = LineageLog(str(tmp_path / "lineage"))
    log.append("r", 0, seq_min=None, seq_max=None, rows_applied=0, snapshot_id=1)
    log.append("r", 1, seq_min=3, seq_max=9, rows_applied=4, snapshot_id=2)
    log.append(
        "r", 2, seq_min=10, seq_max=12, rows_applied=2,
        n_inserts=1, n_updates=1, n_deletes=0, snapshot_id=3,
    )
    rows = log.read(spark).orderBy("batch_id").collect()
    assert [(r.seq_min, r.seq_max) for r in rows] == [(None, None), (3, 9), (10, 12)]
    assert [(r.n_inserts, r.n_deletes) for r in rows] == [(None, None), (None, None), (1, 0)]
    pdf = log.read_pandas().sort_values("batch_id")
    assert pdf["seq_max"].isna().tolist() == [True, False, False]
    assert pdf["n_updates"].isna().tolist() == [True, True, False]
    assert log.last_seq() == 12


def test_footer_stats_parallel_path_matches_serial(spark, tmp_table_path):
    """Above the threshold the footer pass fans out to a thread pool (the
    whole-table-write path: bootstrap/rescale at 10^4+ files must not pay
    serial driver opens); results must be identical to the serial loop."""
    from pyspark.sql import functions as F

    import couch_to_mongo_spark.tableformat as TF
    from couch_to_mongo_spark.bootstrap import bulk_bootstrap

    src = spark.range(3000).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") % 3).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("t").alias("text"),
    )
    table, _ = bulk_bootstrap(spark, tmp_table_path, src, n_buckets=64, normalize=False)
    new_files = table.snapshot().files
    n_files = sum(len(v) for v in new_files.values())
    assert n_files > TF._FOOTER_PARALLEL_THRESHOLD  # 64 files: pool path
    par = table.file_stats(new_files)
    old = TF._FOOTER_PARALLEL_THRESHOLD
    try:
        TF._FOOTER_PARALLEL_THRESHOLD = 10**9  # force serial
        ser = table.file_stats(new_files)
    finally:
        TF._FOOTER_PARALLEL_THRESHOLD = old
    assert par == ser
    assert par[0] == 3000


def test_stratified_sample_deterministic_and_monotone(spark):
    """Data-mixing sampler: same kept set across partitionings; raising a
    stratum's fraction strictly grows (never replaces) the kept set; rates
    land near targets."""
    from pyspark.sql import functions as F

    from couch_to_mongo_spark.functions.text import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    frac = {"en": 0.5, "de": 0.2}
    a = stratified_sample(docs, frac, seed=3).select("doc_id")
    b = stratified_sample(docs.repartition(13), frac, seed=3).select("doc_id")
    ids_a = {r[0] for r in a.collect()}
    assert ids_a == {r[0] for r in b.collect()}

    bigger = stratified_sample(docs, {"en": 0.8, "de": 0.2}, seed=3).select("doc_id")
    ids_big = {r[0] for r in bigger.collect()}
    assert ids_a <= ids_big and len(ids_big) > len(ids_a)

    rates = {
        r["lang"]: r["n"]
        for r in stratified_sample(docs, frac, seed=3)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    totals = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(rates) == {"en", "de"}  # default fraction 0 drops the rest
    for k, f in frac.items():
        assert abs(rates[k] / totals[k] - f) < 0.1


def test_token_budget_sample_attainment_and_monotonicity(spark):
    """The window-prefix sampler must land within ONE document of each
    stratum's token budget (and within 1% for budgets >> doc size), be a
    strict superset under budget increases (prefix property), and agree
    with the fraction solver's expected-yield arithmetic."""
    from couch_to_mongo_spark.functions.text import (
        stratified_sample,
        token_budget_fractions,
        token_budget_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    budgets = {"en": 8000, "de": 3000}
    out = token_budget_sample(docs, budgets, seed=7).toPandas()
    max_doc = out["n_tokens"].max()
    for lang, b in budgets.items():
        got = int(out[out["lang"] == lang]["n_tokens"].sum())
        # >= budget (the crossing doc is kept whole), over by < one doc
        assert b <= got < b + max_doc, (lang, got, b)
        assert got - b <= 0.01 * b or got - b <= max_doc
    # monotone: doubling one budget keeps every previously-kept doc
    out2 = token_budget_sample(docs, {"en": 16000, "de": 3000}, seed=7).toPandas()
    assert set(out["doc_id"]) <= set(out2["doc_id"])
    # unlisted strata are dropped entirely
    assert set(out["lang"]) == set(budgets)

    # fraction solver: budget/total capped at 1, and the derived
    # stratified_sample keeps ~budget tokens in expectation
    fr = token_budget_fractions(docs, {"en": 8000, "de": 10**9})
    assert fr["de"] == 1.0 and 0 < fr["en"] < 1
    kept = stratified_sample(docs, fr, strata_col="lang")
    from couch_to_mongo_spark.functions.text import _bpe_tokens_col
    import pyspark.sql.functions as F

    got_en = (
        kept.where(F.col("lang") == "en")
        .agg(F.sum(_bpe_tokens_col("text")))
        .collect()[0][0]
    )
    # hash-threshold yield has sampling noise; fixture is small so allow 20%
    assert abs(got_en - 8000) < 0.2 * 8000, got_en


def test_pack_sequences_invariants(spark):
    """Packing must tile exactly: per (shard, seq_id) the spans sum to
    seq_len (except each shard's final sequence), start offsets are
    contiguous, total packed tokens equal the corpus total, and the
    layout is partitioning-independent (hash order, not partition
    order)."""
    from couch_to_mongo_spark.functions.transcripts import _bpe_tokens_col, pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = pack_sequences(docs, seq_len=128, n_shards=4, seed=7).toPandas()

    total = docs.select(F.sum(_bpe_tokens_col("text"))).collect()[0][0]
    assert int(out["n_toks"].sum()) == int(total)

    grp = out.groupby(["shard", "seq_id"])["n_toks"].sum()
    last = out.groupby("shard")["seq_id"].max()
    for (shard, seq_id), s in grp.items():
        if seq_id == last[shard]:
            assert 0 < s <= 128
        else:
            assert s == 128, (shard, seq_id, s)
    # spans within a sequence are gapless
    for (_, _), g in out.groupby(["shard", "seq_id"]):
        g = g.sort_values("start_in_seq")
        pos = 0
        for _, r in g.iterrows():
            assert r["start_in_seq"] == pos
            pos += r["n_toks"]

    repart = pack_sequences(
        docs.repartition(13), seq_len=128, n_shards=4, seed=7
    ).toPandas()
    a = sorted(map(tuple, out.to_numpy().tolist()))
    b = sorted(map(tuple, repart.to_numpy().tolist()))
    assert a == b


def test_derive_n_shards_proportional():
    """Packing parallelism sizes itself from the corpus: floor of 8 for
    small inputs, then ~1 shard per PACK_DOCS_PER_SHARD docs — 10x the
    rows gets 10x the shards above the floor."""
    from couch_to_mongo_spark.functions.transcripts import (
        PACK_DOCS_PER_SHARD,
        derive_n_shards,
    )

    assert derive_n_shards(0) == 8
    assert derive_n_shards(PACK_DOCS_PER_SHARD * 8) == 8
    a = derive_n_shards(PACK_DOCS_PER_SHARD * 40)
    b = derive_n_shards(PACK_DOCS_PER_SHARD * 400)
    assert (a, b) == (40, 400)


def test_pack_sequences_derives_shards(spark):
    """n_shards=None derives the shard count from a corpus count (floor 8
    on the small fixture) and still tiles the full token total."""
    from couch_to_mongo_spark.functions.transcripts import _bpe_tokens_col, pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = pack_sequences(docs, seq_len=128, seed=7).toPandas()
    assert set(out["shard"].unique()) <= set(range(8))
    total = docs.select(F.sum(_bpe_tokens_col("text"))).collect()[0][0]
    assert int(out["n_toks"].sum()) == int(total)


def test_mask_contaminated_semantics(spark):
    """Masked docs carry the sentinel exactly n_masked times; clean docs
    rebuild to their normalized token stream unchanged."""
    from couch_to_mongo_spark.functions.text import mask_contaminated, norm_text

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bench = docs.where(F.col("doc_id") < 10)
    corpus = docs.where(F.col("doc_id") >= 10)
    out = mask_contaminated(corpus, bench, n=3, min_common=2)
    joined = out.join(
        corpus.select("doc_id", norm_text(F.col("text")).alias("_norm")), "doc_id"
    ).toPandas()
    dirty = joined[joined["n_masked"] > 0]
    assert len(dirty) > 0
    for _, r in joined.iterrows():
        assert r["masked_text"].split().count("<extra_id_0>") == r["n_masked"]
        if r["n_masked"] == 0:
            assert r["masked_text"] == r["_norm"]


def test_mask_pii_semantics(spark):
    """Typed sentinels, per-class counts, class-ordered masking (email
    digits must not double-count as numbers), clean text untouched."""
    from couch_to_mongo_spark.functions.text import mask_pii

    rows = [
        (1, "write to alice.smith+x@mail.example.org or 10.1.2.3 ref 123456789 ok"),
        (2, "no pii here just words and the number 1234 stays"),
        (3, "two mails a@b.io c@d.co and 99.99.99.99"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in mask_pii(df).collect()}
    assert out[1]["masked_text"] == "write to <email> or <ip> ref <number> ok"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_number"], out[1]["n_pii"]) == (1, 1, 1, 3)
    assert out[2]["masked_text"] == rows[1][1] and out[2]["n_pii"] == 0
    assert out[3]["n_email"] == 2 and out[3]["n_ip"] == 1 and out[3]["n_number"] == 0


def test_unigram_logprob_score(spark):
    """Hand-checked toy corpus: vocab cutoff keeps the top-V by (count,
    token), OOV tokens hit the ln(1/total) floor, per-doc averages agree
    with the closed-form values."""
    import math

    from couch_to_mongo_spark.functions.text import unigram_logprob_score

    # corpus: 'aa' x4, 'bb' x3, 'cc' x1  -> total 8
    rows = [(1, "aa aa bb"), (2, "aa bb cc"), (3, "aa bb")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in unigram_logprob_score(df, vocab_size=2).collect()}
    lp_a = round(math.log(4 / 8), 6)
    lp_b = round(math.log(3 / 8), 6)
    floor = round(math.log(1 / 8), 6)  # 'cc' is beyond the top-2 vocab
    assert out[1]["n_oov"] == 0
    assert out[1]["avg_logprob"] == round((2 * lp_a + lp_b) / 3, 4)
    assert out[2]["n_oov"] == 1
    assert out[2]["avg_logprob"] == round((lp_a + lp_b + floor) / 3, 4)
    assert out[3]["n_tokens"] == 2 and out[3]["n_oov"] == 0
