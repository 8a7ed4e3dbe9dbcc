"""Connected components (large-star/small-star fixpoint) — adversarial
graph shapes + a randomized check against a plain union-find reference.

The entry-contract suite additionally hash-checks `dedup_groups` against a
DuckDB recursive-CTE oracle on the real documents table; these tests cover
graph shapes the fixture doesn't produce (long chains, bridged cliques).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from couch_to_mongo_spark.operators.components import (
    attach_components,
    connected_components,
)


def _cc(spark, pairs: list[tuple[str, str]]) -> dict[str, str]:
    df = spark.createDataFrame(pairs or [("x", "x")], "id_a string, id_b string")
    if not pairs:
        df = df.limit(0)
    out = connected_components(df)
    return {r["id"]: r["component"] for r in out.collect()}


def _reference(pairs: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id in the component
    comp: dict[str, str] = {}
    for node in parent:
        root = find(node)
        comp.setdefault(root, root)
        comp[root] = min(comp[root], node)
    return {node: comp[find(node)] for node in parent}


def test_long_chain_converges_to_single_component(spark):
    # a 64-node path is the adversarial diameter case: naive label
    # propagation needs 64 rounds; the star alternation needs O(log n)
    chain = [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(63)]
    got = _cc(spark, chain)
    assert set(got.values()) == {"d000"}
    assert len(got) == 64


def test_bridged_cliques_and_star(spark):
    cliqueA = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    cliqueB = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    bridge = [("a3", "b0")]
    star = [("z0", f"z{i}") for i in range(1, 6)]
    got = _cc(spark, cliqueA + cliqueB + bridge + star)
    assert got == _reference(cliqueA + cliqueB + bridge + star)
    assert {got[f"b{i}"] for i in range(4)} == {"a0"}
    assert {got[f"z{i}"] for i in range(6)} == {"z0"}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = [f"n{i:04d}" for i in range(300)]
    pairs = [tuple(rng.sample(nodes, 2)) for _ in range(260)]
    assert _cc(spark, pairs) == _reference(pairs)


def test_empty_pairs(spark):
    assert _cc(spark, []) == {}


def test_attach_components_fills_singletons(spark):
    ids = spark.createDataFrame(
        [("d1",), ("d2",), ("d3",), ("d4",)], "doc_id string"
    )
    pairs = spark.createDataFrame([("d3", "d2")], "id_a string, id_b string")
    comp = connected_components(pairs)
    out = attach_components(ids, comp)
    got = {r["doc_id"]: r["group_id"] for r in out.collect()}
    assert got == {"d1": "d1", "d2": "d2", "d3": "d2", "d4": "d4"}


def test_duplicate_and_reversed_edges_are_idempotent(spark):
    pairs = [("p2", "p1"), ("p1", "p2"), ("p2", "p1"), ("p3", "p3")]
    got = _cc(spark, pairs)
    # self-loop contributes its node only if it appears in a real edge;
    # (p3,p3) is dropped as a self-loop, so p3 is absent from the mapping
    assert got == {"p1": "p1", "p2": "p1"}


def test_lsh_verified_pairs_subset_with_high_recall(spark):
    """LSH-verified pairs are exact on candidates (subset of the exhaustive
    jaccard pairs at the same threshold) and the band collision recall on
    the planted near-dups clears 0.8."""
    import couch_to_mongo_spark.functions.text as X

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in X.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in X.lsh_verified_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert lsh <= exact
    assert exact, "fixture has no near-dup pairs?"
    assert len(lsh) / len(exact) >= 0.8, (len(lsh), len(exact))


def test_lsh_dedup_groups_match_exhaustive_on_found_pairs(spark):
    """Group assignments agree with the exhaustive pipeline everywhere the
    LSH candidate set found the same pairs (the only divergence allowed is
    a missed collision splitting a group)."""
    import couch_to_mongo_spark.functions.text as X

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = {r["doc_id"]: r["group_id"] for r in X.dedup_groups(docs).collect()}
    b = {r["doc_id"]: r["group_id"] for r in X.lsh_dedup_groups(docs).collect()}
    assert set(a) == set(b)
    # every LSH group is contained in an exhaustive group (never merges
    # docs the exhaustive pipeline keeps apart)
    from collections import defaultdict

    groups_b = defaultdict(set)
    for doc, g in b.items():
        groups_b[g].add(doc)
    for members in groups_b.values():
        assert len({a[m] for m in members}) == 1, members


def test_simhash_pairs_complete_vs_bruteforce(spark):
    """Pigeonhole completeness: the banded candidate join must find EVERY
    pair within max_hamming=3 — verified against an all-pairs popcount over
    the collected 16-bit hashes."""
    import couch_to_mongo_spark.functions.text as X

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    hashes = {
        r["doc_id"]: r["simhash"]
        for r in X.simhash_df(docs, n_bits=60).collect()
    }
    ids = sorted(hashes)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in X.simhash_pairs(docs, max_hamming=3, bands=4).collect()
    }
    assert got == brute
    assert brute, "fixture produced no close simhash pairs"


def test_hamming_pairs_complete_and_bounded(spark):
    """Pigeonhole banding on a precomputed hash column: every pair within
    max_hamming is found (planted 1/2/3-bit flips), nothing beyond it
    (planted 4-bit flip spread across 4 bands) — completeness, not
    best-effort recall."""
    from couch_to_mongo_spark.functions.text import hamming_pairs

    base = 0x0123456789ABCD  # 56-bit
    rows = [
        (0, base),
        (1, base ^ (1 << 3)),                                  # hamming 1
        (2, base ^ (1 << 15) ^ (1 << 40)),                     # hamming 2
        (3, base ^ (1 << 1) ^ (1 << 20) ^ (1 << 50)),          # hamming 3
        # 4 flips in 4 DIFFERENT 14-bit bands: no shared band, must be absent
        (4, base ^ (1 << 2) ^ (1 << 16) ^ (1 << 30) ^ (1 << 44)),
        (5, 0x7FAAAAAAAAAAAA),                                 # far away
    ]
    df = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            df, "dhash", id_col="media_id", max_hamming=3, bands=4, n_bits=56
        ).collect()
    }
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2 and got[(0, 3)] == 3
    assert (0, 4) not in got  # beyond max_hamming
    assert all(a != 5 and b != 5 for a, b in got)


def test_repetition_features_rank_repetitive_docs(spark):
    """Semantic sanity: a doc that repeats one line/phrase scores higher on
    every repetition metric than a diverse doc."""
    import couch_to_mongo_spark.functions.text as X

    docs = spark.createDataFrame(
        [
            ("rep", "buy now click here\n" * 6 + "buy now click here"),
            ("div", "the quick brown fox jumps over a lazy dog near riverbanks today"),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in X.repetition_features(docs).collect()}
    for c in ("dup_line_frac", "dup_3gram_frac", "top_2gram_frac"):
        assert got["rep"][c] > got["div"][c], (c, got)
    assert got["rep"]["dup_line_frac"] > 0.8
    assert got["div"]["dup_3gram_frac"] == 0.0
