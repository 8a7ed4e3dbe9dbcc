"""Production (label-free) embedding dedup: LSH-blocked pairs -> components.

The contract query's hash parity (test_entry_contract) proves the pipeline
is deterministic cross-engine; these tests prove it is USEFUL — on a
clustered fixture with planted near-duplicates (gen.gen_embeddings),
the label-free LSH groups must recover >=0.9 of the exact label-blocked
ground-truth pairs, and every emitted pair must be a true positive.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from couch_to_mongo_spark.functions import vectors as V
from couch_to_mongo_spark.gen import gen_embeddings


N_VECS = 600
TARGET_COS = 0.95
THRESHOLD = 0.6  # well above intra-cluster noise (~0.12), below planted 0.95
LSH_KW = dict(threshold=THRESHOLD, n_planes=10, dim=64, probes=2,
              max_bucket_size=2000)


@pytest.fixture(scope="module")
def emb(spark, tmp_path_factory):
    import pyarrow.parquet as pq

    p = str(tmp_path_factory.mktemp("emb") / "embeddings.parquet")
    pq.write_table(
        gen_embeddings(N_VECS, dup_frac=0.08, target_cos=TARGET_COS, seed=5), p
    )
    return spark.read.parquet(p).persist()


def test_planted_pair_recall_vs_exact_groups(emb):
    """>=0.9 of the exact (label-blocked, all-pairs) near-dup pairs must
    land in the same LSH group — the verdict's acceptance bar for the
    label-free production path."""
    exact_pairs = V.neardup_pairs_by_label(emb, threshold=THRESHOLD).select(
        "id_a", "id_b"
    )
    groups = V.embedding_dedup_groups_lsh(emb, **LSH_KW)
    ga = groups.select(F.col("vec_id").alias("id_a"), F.col("group_id").alias("ga"))
    gb = groups.select(F.col("vec_id").alias("id_b"), F.col("group_id").alias("gb"))
    joined = exact_pairs.join(ga, "id_a").join(gb, "id_b")
    total = joined.count()
    hit = joined.where(F.col("ga") == F.col("gb")).count()
    assert total >= 20, f"fixture planted too few ground-truth pairs: {total}"
    assert hit / total >= 0.9, f"recall {hit}/{total} = {hit/total:.3f}"


def test_lsh_pairs_are_true_positives(emb):
    """Precision 1.0 by construction (candidates are exact-verified) —
    checked against label-free brute force: every emitted pair's cosine
    really is >= threshold, with the same rounding."""
    got = V.neardup_pairs_lsh(emb, **LSH_KW)
    bad = got.where(F.col("cos_sim") < THRESHOLD).count()
    assert bad == 0
    # spot-check one pair's cosine against a driver-side recompute
    row = got.orderBy("id_a", "id_b").first()
    if row is not None:
        import numpy as np

        va = np.array(
            emb.where(F.col("vec_id") == row["id_a"]).first()["embedding"],
            dtype=np.float64,
        )
        vb = np.array(
            emb.where(F.col("vec_id") == row["id_b"]).first()["embedding"],
            dtype=np.float64,
        )
        cs = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert abs(round(cs, 5) - row["cos_sim"]) < 1e-4


def test_groups_cover_universe_with_component_min(emb):
    """One row per vector; group_id is the component minimum (so keepers
    are deterministic); singletons group to themselves."""
    groups = V.embedding_dedup_groups_lsh(emb, **LSH_KW).persist()
    try:
        n = emb.count()
        assert groups.count() == n
        assert groups.select("vec_id").distinct().count() == n
        # component-min: the group id is a member of its own group and is
        # the minimum vec_id in it
        agg = groups.groupBy("group_id").agg(F.min("vec_id").alias("mn"))
        assert agg.where(F.col("group_id") != F.col("mn")).count() == 0
    finally:
        groups.unpersist()


def test_blas_pairs_match_expression_pairs(spark, emb):
    """The BLAS (applyInPandas gram-matrix) formulation must agree with the
    Column-expression join form exactly after the shared 5dp rounding — on
    both the clustered fixture and the driver's noise fixture."""
    for df, thr in [
        (emb, THRESHOLD),
        (spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"), 0.3),
    ]:
        expr = (
            V.neardup_pairs_by_label(df, threshold=thr)
            .select(F.col("lbl").cast("long"), "id_a", "id_b", "cos_sim")
            .orderBy("id_a", "id_b")
            .collect()
        )
        blas = (
            V.neardup_pairs_by_label_blas(df, threshold=thr)
            .orderBy("id_a", "id_b")
            .collect()
        )
        assert [tuple(r) for r in expr] == [tuple(r) for r in blas]
        assert len(expr) > 0


def test_lsh_blas_verify_matches_expression_verify(spark, emb):
    """The production BLAS verify (per-probed-bucket gram matrix) must
    emit EXACTLY the expression-join verify's pairs — same candidates by
    construction, same cosine after the shared 5dp rounding — on both the
    clustered fixture and the driver's noise fixture."""
    for df, kw in [
        (emb, LSH_KW),
        (
            spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"),
            dict(threshold=0.3, n_planes=8, dim=64, probes=1, max_bucket_size=200),
        ),
    ]:
        expr = sorted(
            tuple(r) for r in V.neardup_pairs_lsh(df, **kw, verify="exprs").collect()
        )
        blas = sorted(
            tuple(r) for r in V.neardup_pairs_lsh(df, **kw, verify="blas").collect()
        )
        assert expr == blas
        assert len(blas) > 0


def test_adaptive_plane_derivation():
    """Defaults must not degenerate at scale: the derived signature width
    tracks log2(corpus/8), clamped — 6 planes at driver scale, 12 at the
    20k sf1 tier (the value the round-4 bench had to hand-override), 24 at
    10^10."""
    assert V.derive_n_planes(5) == 6
    assert V.derive_n_planes(500) == 6
    assert V.derive_n_planes(20_000) == 12
    assert V.derive_n_planes(10**10) == 24
    # monotone non-decreasing over a sweep (no sizing cliffs)
    vals = [V.derive_n_planes(n) for n in range(1, 100_000, 997)]
    assert all(a <= b for a, b in zip(vals, vals[1:]))


def test_probe_masks_guard():
    import pytest as _pytest

    from couch_to_mongo_spark.functions.vectors import _probe_masks

    assert len(_probe_masks(8, 0)) == 1
    assert len(_probe_masks(8, 1)) == 9
    assert len(_probe_masks(8, 2)) == 37
    with _pytest.raises(ValueError):
        _probe_masks(8, 3)


def test_lsh_groups_deterministic_across_partitionings(emb):
    """Same groups regardless of input partitioning: posting lists are
    array_sort'ed before pair expansion, so collect_list's arbitrary
    accumulation order never reaches the output."""
    a = V.embedding_dedup_groups_lsh(emb, **LSH_KW).orderBy("vec_id").collect()
    b = (
        V.embedding_dedup_groups_lsh(emb.repartition(7), **LSH_KW)
        .orderBy("vec_id")
        .collect()
    )
    assert a == b
