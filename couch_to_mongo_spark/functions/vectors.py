"""Vector similarity operators over embedding columns (array<float>).

Per-row scoring stays JVM-side (``zip_with``/``aggregate``). Brute-force
cosine top-k is the correctness baseline; label-blocked near-dup pairs
come as an expression join and a per-block BLAS gram kernel with exact
parity; random-hyperplane LSH with multi-probe gives the candidate path
(ANN candidates, planted near-dup recall, near-dup pairs and dedup groups),
which scores candidates per bucket, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    Plan: scan → per-row cosine (codegen'd) → TakeOrderedAndProject
    (Catalyst rewrites orderBy+limit to a top-k, no full sort)."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), round_to).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def neardup_pairs_by_label(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_to: int = 5,
) -> DataFrame:
    """Embedding near-dup pairs within a blocking key (label): equi-join on
    the block bounds the pair explosion — the all-pairs cosine only happens
    inside a block. At scale the block key is an LSH bucket.

    Norms are materialized once per ROW before the join (O(rows x dim)),
    so each of the O(pairs) join rows pays only the dot product — the
    arithmetic (dot / (na*nb)) is unchanged, so the oracle agrees bit-for-
    bit with the naive form."""
    base = df.select(
        F.col(id_col), F.col(label_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).select(F.col(id_col), F.col(label_col), F.col("_v"), l2norm(F.col("_v")).alias("_n"))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(label_col).alias("lbl"),
        F.col("_v").alias("va"), F.col("_n").alias("na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(label_col).alias("lbl"),
        F.col("_v").alias("vb"), F.col("_n").alias("nb"),
    )
    return (
        a.join(b, "lbl")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_to,
            ),
        )
        .where(F.col("cos_sim") >= threshold)
        .select("lbl", "id_a", "id_b", "cos_sim")
    )


def _make_blas_pair_kernel(
    threshold: float, vec_col: str, id_col: str, label_col: str, round_to: int
):
    """Per-block kernel factory for :func:`neardup_pairs_by_label_blas`.
    The returned closure is self-contained (cloudpickle ships it by value
    with only numpy/pandas module references), so it runs on executors
    regardless of PYTHONPATH."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        cos = (V @ V.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(ids), k=1)
        cs = np.round(cos[ia, ib], round_to)
        m = cs >= threshold
        return pd.DataFrame(
            {
                "lbl": np.repeat(np.int64(pdf[label_col].iloc[0]), int(m.sum())),
                "id_a": ids[ia[m]],
                "id_b": ids[ib[m]],
                "cos_sim": cs[m],
            }
        )

    return kernel


def neardup_pairs_by_label_blas(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_to: int = 5,
) -> DataFrame:
    """Blocked exact near-dup pairs, BLAS formulation: same output contract
    as :func:`neardup_pairs_by_label`, but each block's pairs are scored by
    a per-block gram matrix (``applyInPandas``, numpy ``V @ V.T``) instead
    of a per-joined-row HOF dot product.

    Why: higher-order functions evaluate interpretively, so the join form
    pays ~microseconds per PAIR (measured 123 s for ~20M pairs at sf1);
    here Arrow ships each block's vectors ONCE (O(n_block x dim) transfer,
    not O(pairs x dim)) and the O(n_block^2 x dim) multiply runs at BLAS
    speed. This is the sanctioned Pandas-UDF escape hatch: the semantics
    are expressible in Column expressions (the join form remains the
    oracle-shaped default), but within-block all-pairs scoring is exactly
    the dense-kernel case Arrow batching exists for.

    Parity: numpy's pairwise summation orders the dot differently than the
    sequential zip_with fold; both land on the same value after the shared
    ``round_to`` rounding (equality is test-asserted against the join form
    on the driver fixtures). Block size must stay bounded (n_block^2
    doubles per task — 2k rows = 32 MB); at 100 TB the block key is an LSH
    bucket with a size cap, same as the relational path.

    Output schema matches the join form exactly: ``lbl``/``id_a``/``id_b``
    take the INPUT column dtypes (the r7 optimization round routes the
    declared ``neardup_cosine``/``embedding_dedup_groups`` queries through
    this kernel, and the driver's oracle check compares schemas — a
    hardcoded bigint lbl over an int32 label column would fail it). Rows
    with a NULL label are dropped, exactly as the join form's inner
    equi-join drops them."""
    lbl_t = df.schema[label_col].dataType.simpleString()
    id_t = df.schema[id_col].dataType.simpleString()
    kernel = _make_blas_pair_kernel(threshold, vec_col, id_col, label_col, round_to)
    return (
        df.where(F.col(label_col).isNotNull())
        .groupBy(label_col)
        .applyInPandas(
            kernel, f"lbl {lbl_t}, id_a {id_t}, id_b {id_t}, cos_sim double"
        )
    )


def plane_component(i: int, j: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1].

    md5-derived so the identical value is computable in SQL:
    ``(CAST('0x'||substr(md5('pl'||i||':'||j),1,15) AS BIGINT) % 2001 - 1000)
    / 1000.0`` — keeps the LSH bucketing oracle-checkable cross-engine.
    """
    import hashlib

    h = int(hashlib.md5(f"pl{i}:{j}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def _bucket_col(v: Column, n_planes: int, dim: int) -> Column:
    """Sign-pattern bucket id of ``n_planes`` fixed hash-derived planes."""
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array(*[F.lit(plane_component(i, j)) for j in range(dim)])
        bucket = bucket + F.when(dot(v, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


# adaptive plane-count derivation (shared with the DuckDB oracle, which
# replays it as greatest(6, least(24, ceil(log2(count(*)/8.0))))): target
# ~8 vectors per bucket in expectation — far enough under the default
# 200-cap that skewed (clustered) buckets survive, selective enough that
# no bucket holds a constant corpus fraction. CLAUDE.md rule made code:
# "size bands to the corpus" — a fixed plane count degenerates at scale
# (8 planes = 256 buckets puts every probed bucket of a 20k corpus over
# the cap and the candidate stage silently drops EVERYTHING).
_PLANES_MIN, _PLANES_MAX, _PLANES_TARGET_BUCKET = 6, 24, 8


def derive_n_planes(n_rows: int) -> int:
    import math

    if n_rows <= _PLANES_TARGET_BUCKET:
        return _PLANES_MIN
    return max(
        _PLANES_MIN,
        min(_PLANES_MAX, math.ceil(math.log2(n_rows / _PLANES_TARGET_BUCKET))),
    )


def _resolve_n_planes(df: DataFrame, n_planes: int | None) -> int:
    """``n_planes=None`` sizes the signature to the corpus: one count job
    (metadata-only over parquet) buys non-degenerate defaults at any scale.
    Pass an explicit count-derived value to skip the job on repeated calls
    (or when the corpus size is known from table metadata)."""
    if n_planes is not None:
        return n_planes
    return derive_n_planes(df.count())


def lsh_bucket_ann(
    df: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH bucketing: sign pattern of `n_planes` fixed
    hash-derived projections → bucket id. The IVF/LSH scale path for ANN:
    query hashes to a bucket; search only that bucket. ``n_planes`` stays
    explicit here (query and index side must agree; see
    :func:`derive_n_planes` for corpus-adaptive sizing)."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(F.col(id_col), _bucket_col(v, n_planes, dim).alias("bucket"))


def _probe_masks(n_planes: int, probes: int) -> list[int]:
    """Bucket-id XOR masks for multi-probe LSH: Hamming distance <= probes.
    probes=0 -> [0]; probes=1 adds the n single-bit flips; probes=2 adds
    the C(n,2) double flips. Query-side expansion only — the index is
    untouched, each extra probe is one more bucket lookup."""
    if probes > 2:
        raise ValueError(
            f"probes={probes} unsupported: mask expansion is implemented for "
            "Hamming radius <= 2 (C(n,3)+ masks explode combinatorially; "
            "add planes instead of probes beyond that)"
        )
    masks = [0]
    if probes >= 1:
        masks += [1 << i for i in range(n_planes)]
    if probes >= 2:
        masks += [(1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)]
    return masks


def ann_candidates(
    df: DataFrame,
    queries: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(qid, vec_id) candidate pairs for a set of query vectors: each query
    probes its own bucket plus all buckets within `probes` bit flips
    (multi-probe LSH — recovers the recall a single hard bucket boundary
    loses, without more planes or a bigger index).

    `queries`: (qid, qv) — small; broadcast. At 100 TB the base-side
    bucket table is the shuffled/bucketed big side and each probe is a
    bucket-pruned lookup, never a scan."""
    base_b = lsh_bucket_ann(df, n_planes, dim, vec_col, id_col)
    q_b = lsh_bucket_ann(
        queries.select(F.col("qid").alias(id_col), F.col("qv").alias(vec_col)),
        n_planes, dim, vec_col, id_col,
    ).select(F.col(id_col).alias("qid"), F.col("bucket"))
    masks = _probe_masks(n_planes, probes)
    probed = q_b.select(
        "qid",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    return (
        base_b.join(F.broadcast(probed), "bucket")
        .where(F.col(id_col) != F.col("qid"))
        .select("qid", id_col)
        .distinct()
    )


def planted_neardup_recall(
    df: DataFrame,
    n_queries: int = 20,
    target_cos: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    probes: int = 2,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Recall@1 of multi-probe LSH for the operator's actual use case —
    near-duplicate detection: plant queries at EXACTLY `target_cos` cosine
    from existing vectors (rotate toward a random orthogonal direction)
    and measure how often the source lands in the probed candidate set.

    Context for the number: the synthetic embeddings fixture has no
    neighbor structure (best cross-pair cosine ~0.35 → per-plane agreement
    0.62 → single-bucket recall 0.62^8 ≈ 0.02 by LSH theory, matching
    measurement), so top-k-among-noise recall is intrinsically low for ANY
    sublinear index. Near-dup queries at cosine 0.95 are the workload the
    LSH path exists for."""
    import numpy as np

    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_queries).collect()
    )
    rng = np.random.default_rng(seed)
    qrows = []
    for r in rows:
        v = np.asarray(r[1], dtype=np.float64)
        g = rng.standard_normal(len(v))
        g -= (g @ v) / (v @ v) * v  # orthogonalize
        q = target_cos * v / np.linalg.norm(v) + np.sqrt(1 - target_cos**2) * g / np.linalg.norm(g)
        # qid offset so the candidate self-filter (vec_id != qid) keeps the
        # planted source visible
        qrows.append((-int(r[0]) - 1, [float(x) for x in q]))
    spark = df.sparkSession
    queries = spark.createDataFrame(qrows, f"qid: long, qv: array<double>")
    cand = ann_candidates(df, queries, n_planes, dim, probes, vec_col, id_col)
    hits = cand.where(F.col(id_col) == -F.col("qid") - 1).count()
    return hits / n_queries


def emb_lsh_candidate_pairs(
    df: DataFrame,
    n_planes: int | None = None,
    dim: int = 64,
    probes: int = 1,
    max_bucket_size: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Label-free blocking for embedding near-dup detection: candidate
    (id_a < id_b) pairs whose LSH signatures land in a common probed
    bucket. This is the production blocking key — real corpora carry no
    label column, so the block must come from the vectors themselves.

    Symmetric multi-probe: every vector is expanded to all buckets within
    ``probes`` bit flips of its own (the same masks as query-side
    multi-probe, :func:`_probe_masks`), so two vectors become candidates
    iff their signatures are within ``2*probes`` Hamming distance — each
    weight-<=2p XOR splits into two weight-<=p masks. Recall is tunable by
    (n_planes, probes) exactly like the ANN path.

    Plan (the text-LSH shape, text.py lsh_verified_pairs): one scan
    computes signatures (codegen), ONE shuffle groups ids per probed
    bucket into sorted posting lists, oversized buckets (degenerate
    collision storms — at 8 planes a near-zero-norm cluster) are dropped
    by the same guard as the jaccard df cutoff, and pairs expand LOCALLY
    per list (array HOF, no self-join shuffle), distinct across probes.

    ``n_planes=None`` (default) sizes the signature to the corpus
    (:func:`derive_n_planes`) so defaults never degenerate at scale."""
    from couch_to_mongo_spark.functions.text import _local_pairs

    n_planes = _resolve_n_planes(df, n_planes)
    base = lsh_bucket_ann(df, n_planes, dim, vec_col, id_col)
    masks = _probe_masks(n_planes, probes)
    probed = base.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("pbucket"),
    )
    inv = (
        probed.groupBy("pbucket")
        .agg(F.collect_list(id_col).alias("_ids0"))
        .where((F.size("_ids0") >= 2) & (F.size("_ids0") <= max_bucket_size))
        .select(F.array_sort("_ids0").alias("_ids"))
    )
    return (
        inv.select(F.explode(_local_pairs(F.col("_ids"))).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )


def _make_bucket_stream_kernel(
    threshold: float, max_bucket_size: int, id_col: str, round_to: int
):
    """Streaming per-bucket gram kernel for :func:`neardup_pairs_lsh`'s
    BLAS verify (``mapInPandas``): consumes a pbucket-CONTIGUOUS row
    stream (hash-partitioned + sorted by pbucket, so every bucket lives
    whole inside one partition and is contiguous in it), grams each bucket
    (``V @ V.T``) and emits its above-threshold pairs.

    Why mapInPandas and not ``groupBy(pbucket).applyInPandas``: the
    adaptive plane sizing targets ~8 rows per bucket, so a per-GROUP
    kernel pays one Python/Arrow round-trip per tiny bucket (measured
    ~1 ms each — thousands of buckets made invocation overhead the new
    bottleneck); here one invocation serves a whole ~10k-row Arrow batch
    and the per-bucket loop is a numpy-only inner loop. The trailing
    (possibly batch-split) bucket is carried into the next batch —
    batches iterate WITHIN one partition, so carry-over is sound, and the
    upstream size gate bounds the carry at ``max_bucket_size`` rows.

    Self-contained closure (cloudpickle by value)."""
    import numpy as np
    import pandas as pd

    def score(pdf, out):
        # the stream arrives SORTED by pbucket, so each bucket is one
        # contiguous run — pure numpy run-slicing, no per-group pandas
        # machinery (a pandas groupby paid ~1 ms per tiny bucket; 4096
        # adaptive buckets made that the new bottleneck)
        pb = pdf["pbucket"].to_numpy()
        ids_all = pdf[id_col].to_numpy()
        V_all = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms_all = np.linalg.norm(V_all, axis=1)
        cuts = np.flatnonzero(pb[1:] != pb[:-1]) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(pb)]))
        for s, e in zip(starts, ends):
            n = e - s
            if n < 2 or n > max_bucket_size:
                continue  # belt to the upstream window gate
            order = np.argsort(ids_all[s:e], kind="stable")
            ids = ids_all[s:e][order]
            V = V_all[s:e][order]
            norms = norms_all[s:e][order]
            cos = (V @ V.T) / np.outer(norms, norms)
            ia, ib = np.triu_indices(n, k=1)
            cs = np.round(cos[ia, ib], round_to)
            m = cs >= threshold
            if m.any():
                out.append((ids[ia[m]], ids[ib[m]], cs[m]))

    def emit(out):
        return pd.DataFrame(
            {
                "id_a": np.concatenate([t[0] for t in out]),
                "id_b": np.concatenate([t[1] for t in out]),
                "cos_sim": np.concatenate([t[2] for t in out]),
            }
        )

    def gen(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
            if not len(pdf):
                continue
            last = pdf["pbucket"].iloc[-1]
            tail = pdf["pbucket"] == last
            carry = pdf[tail]
            body = pdf[~tail]
            out: list = []
            if len(body):
                score(body, out)
            if out:
                yield emit(out)
        if carry is not None and len(carry):
            out = []
            score(carry, out)
            if out:
                yield emit(out)

    return gen


def neardup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.3,
    n_planes: int | None = None,
    dim: int = 64,
    probes: int = 1,
    max_bucket_size: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 5,
    verify: str = "blas",
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT a label column: LSH-blocked
    candidates verified by exact cosine — the embedding twin of the text
    pipeline's candidates->verify stage (text.py lsh_verified_pairs).
    Candidates the signatures never co-bucket are missed — LSH's recall
    trade; the DuckDB oracle replays the identical plane/probe/cap
    pipeline so the miss set is identical cross-engine, and recall is
    measured separately on planted near-dups (tests/test_ann.py,
    test_embedding_dedup_lsh.py). ``n_planes=None`` sizes the signature
    to the corpus (:func:`derive_n_planes`).

    ``verify="blas"`` (default, the production path): ONE shuffle groups
    each probed bucket's (id, vector) rows (a window count drops
    degenerate buckets inside the same exchange, so no oversized bucket
    ever reaches Python memory), then a STREAMING per-bucket gram kernel
    (``mapInPandas`` over the pbucket-contiguous stream,
    :func:`_make_bucket_stream_kernel`) scores every within-bucket pair
    with numpy ``V @ V.T`` — per-pair HOF dots cost ~6 µs interpreted
    (the repo's measured 150× lesson,
    :func:`neardup_pairs_by_label_blas`), which made the approximate
    pipeline SLOWER than the exact BLAS one at sf1 (16.2 s vs 3.7 s).
    The wire carries each vector once per probe mask (rows × n_masks ×
    dim doubles); the candidate-pair set, by construction identical to
    :func:`emb_lsh_candidate_pairs`, never crosses Arrow with vectors
    attached. Pairs found in several probed buckets carry the same
    rounded cosine, so the final ``distinct`` collapses them exactly as
    the candidate-first plan did.

    ``verify="exprs"`` keeps the Column-expression formulation (candidate
    pairs -> two vector joins -> zip_with/aggregate dot): the
    oracle-shaped reference the BLAS path is parity-tested against."""
    n_planes = _resolve_n_planes(df, n_planes)
    if verify == "exprs":
        cand = emb_lsh_candidate_pairs(
            df, n_planes, dim, probes, max_bucket_size, vec_col, id_col
        )
        base = df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        ).select(F.col(id_col), F.col("_v"), l2norm(F.col("_v")).alias("_n"))
        a = base.select(
            F.col(id_col).alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na")
        )
        b = base.select(
            F.col(id_col).alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
        )
        return (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "cos_sim",
                F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_to),
            )
            .where(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim")
        )
    if verify != "blas":
        raise ValueError(f"verify={verify!r} not in ('blas', 'exprs')")
    from pyspark.sql import Window

    masks = _probe_masks(n_planes, probes)
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    sig = base.select(
        F.col(id_col), F.col("_v"), _bucket_col(F.col("_v"), n_planes, dim).alias("_b")
    )
    probed = sig.select(
        F.col(id_col),
        F.col("_v"),
        F.explode(
            F.array(*[F.col("_b").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("pbucket"),
    )
    # size-gate INSIDE the bucket exchange: the window count and the
    # pandas grouping share one hash partitioning on pbucket, and the
    # filter runs before any group materializes in Python memory
    w = Window.partitionBy("pbucket")
    ok = (
        probed.withColumn("_n", F.count(F.lit(1)).over(w))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size))
        .drop("_n")
    )
    kernel = _make_bucket_stream_kernel(threshold, max_bucket_size, id_col, round_to)
    id_t = df.schema[id_col].dataType.simpleString()
    # sortWithinPartitions is removed as redundant while the Window's
    # (hash-partition + sort on pbucket) output reaches the kernel
    # directly; it stays as a local (shuffle-free) sort if a future plan
    # change breaks the contiguity the stream kernel depends on
    pairs = ok.sortWithinPartitions("pbucket").mapInPandas(
        kernel, f"id_a {id_t}, id_b {id_t}, cos_sim double"
    )
    return pairs.distinct()


def embedding_dedup_groups_lsh(
    df: DataFrame,
    threshold: float = 0.3,
    n_planes: int | None = None,
    dim: int = 64,
    probes: int = 1,
    max_bucket_size: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    verify: str = "blas",
) -> DataFrame:
    """Production embedding dedup at 100 TB: LSH-blocked candidates ->
    exact cosine verify (per-bucket BLAS gram matrix by default) ->
    connected-components closure -> (vec_id, group_id) for every vector.
    Same output contract as the label-blocked exact twin
    (__spark_entry__.q_embedding_dedup_groups), but the blocking key is
    derived from the vectors — usable on corpora with no labels. The
    embedding mirror of text.py's lsh_dedup_groups. ``n_planes=None``
    sizes the signature to the corpus (:func:`derive_n_planes`), so the
    default configuration is non-degenerate from 500 vectors to 10^10."""
    from couch_to_mongo_spark.operators.components import (
        attach_components,
        connected_components,
    )

    pairs = neardup_pairs_lsh(
        df, threshold, n_planes, dim, probes, max_bucket_size, vec_col,
        id_col, verify=verify,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return attach_components(df, comp, id_col=id_col, out_col="group_id")
