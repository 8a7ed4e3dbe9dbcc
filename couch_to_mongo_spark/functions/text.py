"""Text-analysis operators for training-data pipelines.

All JVM-side Column expressions (whole-stage codegen; no Python in the hot
path). Cross-engine determinism contract: the numeric hash is
``int(md5_hex[:15], 16)`` — identical in Spark (``conv(substr(md5,1,15),
16,10)``) and DuckDB (``cast('0x'||substr(md5,1,15) as bigint)``) — so
every operator here has an exact DuckDB oracle in ``__spark_entry__``.

Operators (beyond the reference, per the training-data mandate):
- exact dedup (hash-groupBy), n-gram shingles, MinHash signatures +
  LSH band buckets, SimHash, n-gram Jaccard candidate pairs
- language-ID heuristic, quality scoring, token counting, fingerprinting

Sequence packing (``pack_sequences``) and the shared ``hash15`` /
BPE-count expressions live in :mod:`.transcripts`, next to the
``submit_main.py render`` operators that use them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from couch_to_mongo_spark.functions.transcripts import _bpe_tokens_col, hash15

TOKEN_SPLIT_RE = r"\s+"
NORM_STRIP_RE = r"[^a-z0-9 ]"
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def hash32(col: Column) -> Column:
    """Deterministic 32-bit integer hash (md5 prefix) — small enough that
    affine permutations ``(a*h + b) % MINHASH_P`` stay inside int64 in
    both Spark and DuckDB (a < 2^29, h < 2^32 => a*h+b < 2^62)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# MinHash permutation family: ONE content hash per shingle, k affine
# permutations over it. Round 1 hashed the full shingle text k times
# (md5 x k dominated the whole query bench at sf0.1); the affine family is
# the standard construction and keeps the DuckDB oracle exact.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_MINHASH_SEED_CONSTANTS = [
    # (a, b) pairs, fixed literals so Spark exprs and oracle SQL agree
    (238292573, 1126717823), (413968929, 510549558),
    (292839109, 1814528019), (73249021, 334594951),
    (483904261, 1044083681), (152947673, 70638419),
    (333868421, 1963553771), (56509297, 1349261063),
    (421866313, 882582091), (247121813, 1511775383),
    (104070341, 1991727713), (379343429, 253804291),
    (193904509, 1678062209), (528442237, 930811577),
    (66089921, 1227034861), (450087193, 404175803),
]


def minhash_perms(k: int) -> list[tuple[int, int]]:
    if k > len(_MINHASH_SEED_CONSTANTS):
        raise ValueError(f"k={k} > {len(_MINHASH_SEED_CONSTANTS)} fixed permutations")
    return _MINHASH_SEED_CONSTANTS[:k]


def norm_text(col: Column) -> Column:
    """lower + strip non-alnum + collapse/trim whitespace."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), NORM_STRIP_RE, ""), TOKEN_SPLIT_RE, " "
        )
    )


def tokens(col: Column) -> Column:
    return F.split(norm_text(col), " ")


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 over the normalized token stream —
    whitespace/punctuation/case-insensitive content identity."""
    return F.md5(norm_text(col))


def shingles(col: Column, n: int = 3) -> Column:
    """n-token shingles as strings (space-joined windows).

    PERF WARNING: higher-order functions evaluate interpretively, and an
    unbound subexpression inside the lambda (here the tokenize-regex chain)
    is RE-EVALUATED per array element — measured 16 s for 260k shingles at
    sf0.1 vs 0.9 s when the token array is materialized first. DataFrame
    operators must use :func:`shingles_from_tokens` over a projected token
    column; this scalar form is for expression-level composition on tiny
    inputs only."""
    return shingles_from_tokens(tokens(col), n)


def shingles_from_tokens(tk: Column, n: int = 3) -> Column:
    """n-token shingles from an ALREADY-MATERIALIZED token array column.
    Bind `tk` via a prior ``select(tokens(...).alias("_tk"))`` so the
    lambda reads the array instead of re-tokenizing per element."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))


def exploded_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) rows: tokenize once per doc (materialized projection),
    then explode the shingle windows — the shared scale-path front end of
    the MinHash / contamination family.

    Generator shape (r6): explode a cheap int ``sequence`` of window
    starts and build each shingle with ``slice``+``concat_ws`` in the
    post-explode codegen projection. Exploding the shingle ``transform``
    directly makes the transform the Generate input, which re-evaluates
    per output element — measured 4.4s vs 2.4s for this shape at sf1
    (and catastrophically worse under posexplode; see
    :func:`ngram_contamination_spans`)."""
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    e = d.select(
        F.col(id_col),
        F.col("_tk"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("_tk") - (n - 1), F.lit(1)))
        ).alias("_p0"),
    )
    return e.select(
        F.col(id_col),
        F.concat_ws(" ", F.slice(F.col("_tk"), F.col("_p0"), n)).alias("_sh"),
    )


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash",
    n_bits: int = 16,
) -> DataFrame:
    """SimHash, relational shape: explode tokens → one conditional-sum per
    bit in a single hash aggregation (primitive buffers, codegen'd); a
    scalar-expression form would evaluate per-bit array-aggregates
    interpretively. ``n_bits`` <= 60 (hash15's
    width); 16 matches the compact legacy oracle, 60 is the pairing width
    (see :func:`simhash_pairs` — narrow hashes make band buckets
    degenerate at corpus scale)."""
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits={n_bits} outside [1, 60]")
    ex = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
    ex = ex.select(F.col(id_col), hash15(F.col("_t")).alias("_h"))
    votes = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(n_bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(n_bits):
        sim = sim + F.when(F.col(f"_v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return votes.select(F.col(id_col), sim.alias(out_col))


def simhash16_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", out_col: str = "simhash"
) -> DataFrame:
    return simhash_df(df, text_col, id_col, out_col, n_bits=16)


def _local_pairs(ids_col: Column) -> Column:
    """All (id_a < id_b) pairs of a SORTED id array, expanded locally via
    array HOFs (no self-join shuffle): the i-th element pairs with every
    later one. Shared by the capped-jaccard and LSH candidate paths — the
    1-based ``i + 2`` slice offset is the subtle part, keep it in one
    place. Only reference a bare materialized column (e.g. ``F.col("_ids")``)
    here: lambda bodies re-evaluate unbound subexpressions per element."""
    return F.flatten(
        F.transform(
            ids_col,
            lambda x, i: F.transform(
                F.slice(ids_col, i + F.lit(2), F.size(ids_col)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content fingerprint: keeper = min id.
    Hash-groupBy — one shuffle on the 128-bit fingerprint, skew-free."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_signature_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """MinHash signatures, relational shape: explode shingles → k hash
    columns → hash-aggregate mins per doc.

    Preferred over a scalar-expression signature: nested
    higher-order-function expressions (k × transform over shingles, each
    rebuilding the shingle array) fall out of whole-stage codegen and
    evaluate interpretively (~200ms/row); the explode shape computes
    shingles once, keeps every hash in codegen, and aggregates with
    primitive-buffer min() — linear and shuffle-light (k longs per doc).

    Each shingle is md5-hashed ONCE (hash32) and the k signature values
    are affine permutations ``(a_i*h + b_i) % MINHASH_P`` — k-1 fewer
    full-text hashes per shingle than the round-1 form, which was the
    single most expensive expression in the whole query bench.
    """
    ex = exploded_shingles(df, text_col, id_col)
    # materialize the content hash in its own projection so the md5 is
    # computed exactly once per shingle (not relying on CSE across the k
    # permutation expressions)
    ex = ex.select(F.col(id_col), hash32(F.col("_sh")).alias("_h"))
    h = F.col("_h")
    hashed = ex.select(
        F.col(id_col),
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)).alias(f"_h{i}")
            for i, (a, b) in enumerate(minhash_perms(k))
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"mh{i}") for i in range(k)]
    )


def lsh_band_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8, bands: int = 4
) -> DataFrame:
    """MinHash-LSH: signature split into bands; bucket id = hash of band.
    Docs sharing any band bucket are near-dup candidates (bucket-join scale
    path: candidates ∝ collisions, never all-pairs)."""
    rows_per_band = k // bands
    sig = minhash_signature_df(df, text_col, id_col, k)
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(b),
            *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    sig = sig.select(F.col(id_col), *band_cols)
    stacked = sig.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("bucket"),
    )
    return stacked


def _pair_count_kernel(threshold: float):
    """Arrow kernel for the uncapped exact-jaccard pair aggregation: input
    is the (id_a, id_b, s=n_a+n_b) join stream REPARTITIONED BY PAIR, so
    one task holds every co-occurrence row of its pairs; numpy sorts the
    packed pair key and run-length-counts it — ~10x the JVM hash
    aggregate, whose partial maps achieve no reduction on this workload
    (127M join rows -> 114M distinct pairs at the driver's sf1.0: every
    map fills and spills for a 1.1x dedup).

    The kernel filter keeps raw jaccard >= threshold - 1e-6 — a SUPERSET
    of the answer (6dp rounding moves a value by <= 5e-7): numpy rounds
    half-even while Spark/DuckDB round HALF_UP, so the exact
    ``F.round``-then-compare happens JVM-side on the surviving handful.

    Ids that fit in 31 bits take the packed single-int64 sort; anything
    else (negative/huge ids) falls back to a lexsort on both columns —
    same result, ~2x slower."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        ia_l, ib_l, s_l = [], [], []
        for bt in batches:
            ia_l.append(bt["id_a"].to_numpy(np.int64))
            ib_l.append(bt["id_b"].to_numpy(np.int64))
            s_l.append(bt["s"].to_numpy(np.int64))
        if not ia_l:
            return
        ia = np.concatenate(ia_l)
        ib = np.concatenate(ib_l)
        s = np.concatenate(s_l)
        if len(ia) == 0:
            return
        if ia.min() >= 0 and ib.max() < (1 << 31):
            # id_a < id_b by construction, so ia bounds follow from ib's
            p = (ia << 31) | ib
            order = np.argsort(p, kind="stable")
            p, s = p[order], s[order]
            new = np.empty(len(p), dtype=bool)
            new[0] = True
            new[1:] = p[1:] != p[:-1]
            idx = np.flatnonzero(new)
            c = np.diff(np.append(idx, len(p)))
            gp, gs = p[idx], s[idx]
            jr = c / (gs - c)
            m = jr >= threshold - 1e-6
            yield pd.DataFrame(
                {
                    "id_a": gp[m] >> 31,
                    "id_b": gp[m] & ((1 << 31) - 1),
                    "n_common": c[m],
                    "s": gs[m],
                }
            )
            return
        order = np.lexsort((ib, ia))
        ia, ib, s = ia[order], ib[order], s[order]
        new = np.empty(len(ia), dtype=bool)
        new[0] = True
        new[1:] = (ia[1:] != ia[:-1]) | (ib[1:] != ib[:-1])
        idx = np.flatnonzero(new)
        c = np.diff(np.append(idx, len(ia)))
        jr = c / (s[idx] - c)
        m = jr >= threshold - 1e-6
        yield pd.DataFrame(
            {
                "id_a": ia[idx][m],
                "id_b": ib[idx][m],
                "n_common": c[m],
                "s": s[idx][m],
            }
        )

    return kernel


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard >= threshold.

    Inverted-index plan: explode distinct shingles -> self-join on shingle
    (co-occurrence counts |A∩B|) -> join per-doc sizes -> Jaccard. Shuffle
    is on shingle (fine-grained; hot shingles are the skew risk).

    ``max_doc_freq``: the 100 TB skew guard — shingles occurring in more
    than this many documents are dropped from the index BEFORE the
    self-join (a df-cap shingle would contribute O(df^2) join rows; e.g. a
    boilerplate header shared by 10^6 docs would alone produce 10^12
    candidate pairs). Jaccard is then computed over the filtered shingle
    universe (both intersection and sizes), keeping the semantics exact
    and oracle-expressible w.r.t. that universe.

    Scale shape: the index and both self-join sides carry only
    ``(doc_id, hash15(shingle))`` — an 8-byte join key instead of the
    shingle text, so the big shuffle moves ~16 bytes/row. The 60-bit hash
    makes a cross-doc collision (which would inflate one pair's
    intersection by 1) vanishingly rare; the DuckDB oracle joins on the
    raw shingle and agrees exactly at test scale. Uncapped per-doc sizes
    come straight from ``array_size`` on the shingle array — no second
    explode, no extra shuffle."""
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    sh = d.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("_tk"), n))
        ).alias("sh"),
    ).select(F.col(id_col), hash15(F.col("sh")).alias("sh"))
    if max_doc_freq is not None:
        # TRUE inverted-list plan, enabled by the cap: ONE shuffle groups
        # the index into per-shingle posting lists, the df cap filters
        # them (and bounds every list at max_doc_freq ids — memory-safe by
        # construction, the skew guard the cap exists for), then the
        # id-pair expansion happens LOCALLY per list via array HOFs and
        # the filtered-universe sizes fall out of the same lists. The
        # previous formulation (broadcast hot set + anti-join + subtracted
        # sizes) re-derived the exploded index in every branch — column
        # pruning makes the subtrees non-identical, so exchange reuse
        # never fires and the tokenize+hash work ran up to 10x (measured
        # slower than the uncapped join it was meant to guard at sf1).
        # The lists are array_sort'ed in their own projection BEFORE the
        # pair HOF (lambda bodies re-evaluate unbound subexpressions per
        # element), and sorting makes id_a < id_b structural.
        inv = (
            sh.groupBy("sh")
            .agg(F.collect_list(F.col(id_col)).alias("_ids0"))
            .where(F.size("_ids0") <= max_doc_freq)
            .select(F.array_sort("_ids0").alias("_ids"))
        )
        # r7: inv feeds THREE consumers (pair expansion + sizes, and sizes
        # again as each join side) — the plan re-derived the whole
        # tokenize+explode+hash+collect_list index per consumer (6 scans,
        # 12 Generates at sf1.0; exchange reuse does not always fire
        # across the differently-pruned branches). The capped index is
        # tiny by construction (every list <= max_doc_freq ids), so
        # materialize it once; measured 14 s -> ~6 s.
        inv = inv.localCheckpoint(eager=True)
        inter = (
            inv.select(F.explode(_local_pairs(F.col("_ids"))).alias("_p"))
            .select("_p.id_a", "_p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sizes = (
            inv.select(F.explode(F.col("_ids")).alias(id_col))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
    else:
        # uncapped: classic index self-join; sizes free via array_size (no
        # second explode). Kept join-based — without a df cap, posting
        # lists are unbounded, and the sort-merge self-join streams skewed
        # shingles instead of materializing their lists.
        sizes = d.select(
            F.col(id_col),
            F.array_size(
                F.array_distinct(shingles_from_tokens(F.col("_tk"), n))
            ).cast("long").alias("n_sh"),
        )
        id_t = df.schema[id_col].dataType.simpleString()
        if id_t in ("bigint", "int", "smallint"):
            # r7 scale path: the pair aggregation, not the join, was the
            # wall (175 s at the driver's sf1.0 for 127M join rows ->
            # 114M distinct pairs — a JVM hash aggregate with a 1.1x
            # dedup ratio spills its partial maps for nothing). Carry
            # s = n_a + n_b THROUGH the join (sizes broadcast onto the
            # postings, O(docs) rows), repartition by pair, and
            # run-length count in the numpy kernel; the exact
            # round-half-up jaccard filter stays JVM-side. Measured
            # 302 s -> 30 s on the same data, byte-identical output.
            # No broadcast hint on sizes: it is O(corpus) rows, so the planner/AQE
            # must stay free to shuffle both sides at 10^10 docs (here it
            # auto-broadcasts the few-MB side).
            pa = sh.join(sizes, id_col)
            a = pa.select(
                F.col(id_col).alias("id_a"), "sh", F.col("n_sh").alias("na")
            )
            b = pa.select(
                F.col(id_col).alias("id_b"), "sh", F.col("n_sh").alias("nb")
            )
            j = (
                a.join(b, "sh")
                .where(F.col("id_a") < F.col("id_b"))
                # int, not long: s = n_a + n_b is bounded by 2x the max
                # per-doc distinct-shingle count — shaves 4-8 bytes/row
                # off the 127M-row pair exchange and the Arrow crossing
                .select(
                    "id_a", "id_b", (F.col("na") + F.col("nb")).cast("int").alias("s")
                )
            )
            g = j.repartition("id_a", "id_b").mapInPandas(
                _pair_count_kernel(threshold),
                f"id_a {id_t}, id_b {id_t}, n_common long, s long",
            )
            return (
                g.withColumn(
                    "jaccard",
                    F.round(
                        F.col("n_common") / (F.col("s") - F.col("n_common")), 6
                    ),
                )
                .where(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "n_common", "jaccard")
            )
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, F.col("a.sh") == F.col("b.sh"))
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def dedup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Canonical dedup groups: near-dup *pairs* (n-gram Jaccard >= threshold)
    closed into connected components — group_id = min doc_id reachable
    through the pair graph, singletons grouped as themselves.

    This is the dedup endgame a pair list alone doesn't give you: A~B and
    B~C without A~C must still collapse to one keeper. The transitive
    closure runs as the distributed large-star/small-star fixpoint
    (operators/components.py) — no driver-side union-find, so a 100 TB
    corpus with chained boilerplate families groups correctly.
    Returns (doc_id, group_id) for EVERY input document."""
    from ..operators.components import attach_components, connected_components

    pairs = ngram_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, n=n,
        threshold=threshold, max_doc_freq=max_doc_freq,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return attach_components(df, comp, id_col=id_col, out_col="group_id")


def quality_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """Length / punctuation / stopword / digit features + composite score.
    Token array materialized before the stopword-filter HOF (see
    :func:`shingles` perf warning). ``extra`` appends named columns
    (expressions over ``text_col``) to the SAME projection — how
    :func:`curate_corpus` rides its fingerprint on this scan instead of
    scanning the corpus again."""
    d = df.select(F.col(id_col), F.col(text_col), tokens(F.col(text_col)).alias("_tk"))
    t = F.col(text_col)
    toks = F.col("_tk")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    return d.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        F.round(n_digit / n_chars, 6).alias("digit_ratio"),
        F.round(n_stop / n_tok, 6).alias("stopword_ratio"),
        F.round(
            F.least(n_tok / F.lit(100.0), F.lit(1.0)) * (1 - n_punct / n_chars),
            6,
        ).alias("quality_score"),
        *[v.alias(k) for k, v in (extra or {}).items()],
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic mixture sampling — the data-mixing operator: keep each
    stratum (language, source, domain...) at its target fraction, selected
    by a content-independent hash of the document id so the SAME documents
    are kept on every run, every engine, and every partitioning (unlike
    ``df.sample``, whose selection is partition-dependent).

    keep  <=>  md5-hash(id:seed) mod 10^6  <  fraction * 10^6

    Properties that matter at 100 TB:
    - pure per-row predicate (codegen, no shuffle, pushes past column
      pruning) — sampling 10^10 rows costs one scan;
    - monotone in the fraction: raising a stratum's share KEEPS every
      previously-kept doc and adds new ones (hash thresholding), so
      mixture re-weighting between runs reuses prior outputs;
    - seed changes draw an independent sample (hash input includes it);
    - strata missing from ``fractions`` fall to ``default_fraction``.
    """
    h = F.pmod(
        hash15(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
        F.lit(1_000_000),
    )
    thr = F.lit(int(default_fraction * 1_000_000))
    for k, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == F.lit(k), F.lit(int(frac * 1_000_000))).otherwise(thr)
    return df.where(h < thr)


def token_budget_fractions(
    df: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "lang",
    text_col: str = "text",
) -> dict[str, float]:
    """Solve per-stratum TOKEN budgets into :func:`stratified_sample`
    fractions — data-mixing specs are written as token budgets ("300B
    English, 50B code"), but the scalable sampler takes fractions. ONE
    aggregation (per-stratum token totals, map-side combined, one row per
    stratum on the driver) and fraction = budget / total, capped at 1.0.

    This is the 100 TB path: the resulting sample is a pure codegen scan
    predicate (no sort, no shuffle) whose EXPECTED token yield is the
    budget; the realized yield has sampling noise O(1/sqrt(docs kept)) —
    negligible at 10^8+ docs per stratum, so the exactness of
    :func:`token_budget_sample`'s prefix method is not worth a
    corpus-wide sort there."""
    totals = {
        r[0]: r[1]
        for r in df.groupBy(strata_col)
        .agg(F.sum(_bpe_tokens_col(text_col)).alias("_t"))
        .collect()
    }
    return {
        k: min(1.0, float(b) / float(totals[k]))
        for k, b in budgets.items()
        if k in totals and totals[k]
    }


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """EXACT token-budget mixture sampling: per stratum, keep documents in
    hash order until the cumulative token count reaches the stratum's
    budget — the attained budget is within ONE document of the target
    (the first doc whose window still started under budget is kept whole;
    nothing after it is).

    The hash order is the SAME content-independent md5 order as
    :func:`stratified_sample`, which buys the identical properties:
    deterministic across runs/engines/partitionings, monotone in the
    budget (raising a budget keeps every previously-kept doc — prefix of
    a fixed order), and seed-swappable. Equivalently: this IS
    stratified_sample with the exact budget-attaining threshold.

    Cost: one hash partition + per-stratum sort (the window) over the
    corpus — right when budgets must land exactly (ablation mixes,
    contract deliveries). For 10^10-doc corpora where sampling noise is
    negligible anyway, :func:`token_budget_fractions` +
    :func:`stratified_sample` gives the scan-only plan. Strata without a
    budget entry are dropped (budget 0).

    Output: (id, stratum, n_tokens) of kept docs."""
    from pyspark.sql import Window

    h = F.pmod(
        hash15(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
        F.lit(1_000_000),
    )
    t = df.select(
        F.col(id_col),
        F.col(strata_col),
        _bpe_tokens_col(text_col).cast("long").alias("n_tokens"),
        h.alias("_h"),
    )
    w = (
        Window.partitionBy(strata_col)
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budget = F.lit(0).cast("long")
    for k, b in sorted(budgets.items()):
        budget = F.when(F.col(strata_col) == F.lit(k), F.lit(int(b))).otherwise(budget)
    c = t.withColumn("_cum", F.sum("n_tokens").over(w))
    return c.where((F.col("_cum") - F.col("n_tokens")) < budget).select(
        id_col, strata_col, "n_tokens"
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 0,
) -> DataFrame:
    """C4-style bad-words filtering: count blocklist terms in the
    normalized token stream; ``keep`` iff at most ``max_hits``. The
    blocklist rides as an expression literal (real blocklists are 10^2-
    10^3 terms — driver-side constant, no join), the token array
    materializes once per row before the HOF filter (the lambda must read
    a plain attribute, not re-tokenize per element), and the whole thing
    is one shuffle-free scan. Matching is against NORMALIZED tokens
    (lower, punctuation stripped) — multi-word or sub-token patterns want
    the contamination operators instead.

    Output: (id, n_blocked, keep)."""
    arr = F.array(*[F.lit(w) for w in blocklist])
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    hits = F.size(F.filter(F.col("_tk"), lambda x: F.array_contains(arr, x)))
    return d.select(
        F.col(id_col),
        hits.cast("long").alias("n_blocked"),
        (hits <= F.lit(int(max_hits))).alias("keep"),
    )


#: PII patterns chosen for cross-engine regex parity (Java regex AND
#: RE2/DuckDB evaluate these identically): kept deliberately simple —
#: email, dotted-quad IP, long digit runs (phone/account/SSN-ish).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<email>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<ip>"),
    ("number", r"\b\d{9,}\b", "<number>"),
)


def mask_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing — the redaction pass every public-corpus pipeline
    runs before training (C4 and friends): replace emails, dotted-quad
    IPs, and long digit runs with typed sentinels, and report per-class
    hit counts. Pure per-row ``regexp_replace``/``regexp_count`` chain:
    codegen, shuffle-free, one scan at 10^10 docs; patterns restricted to
    syntax Java regex and RE2 (the DuckDB oracle) evaluate identically.
    Masking is class-ordered (emails first, so their digits/dots aren't
    re-matched by the later classes).

    Output: (id, masked_text, n_email, n_ip, n_number, n_pii)."""
    out = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.regexp_count(out, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        out = F.regexp_replace(out, pat, repl)
    d = df.select(F.col(id_col), out.alias("masked_text"), *counts)
    total = sum((F.col(f"n_{n}") for n, _, _ in PII_PATTERNS[1:]),
                F.col(f"n_{PII_PATTERNS[0][0]}"))
    return d.withColumn("n_pii", total.cast("long"))


def mask_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_common: int = 2,
    mask_token: str = "<extra_id_0>",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The mask-not-drop decontamination endgame: apply
    :func:`ngram_contamination_spans` to the corpus, replacing every token
    inside a matched n-gram window with ``mask_token`` — contaminated
    documents keep their clean content instead of being dropped whole.

    Plan: spans (broadcast-asymmetric, corpus never shuffles unmatched
    rows) -> per-doc masked-position set (explode each span to its n
    token indices, one groupBy over MATCHED docs only) -> left join back
    to the corpus (clean docs pass through with an empty mask) -> one
    HOF transform swaps masked positions. The rebuilt text is the
    NORMALIZED token stream (masking happens post-normalization, where
    the spans are defined); n_masked counts masked token positions.

    Output: (id, masked_text, n_masked)."""
    # One LOGICAL token projection feeds both the span extraction and the
    # join-back render. Physically both branches still tokenize (toks is
    # an unmaterialized DataFrame and there is no exchange below it to
    # reuse — ADVICE r6); the real r6 saving was the broadcast join-back.
    # Materializing toks was probed and rejected: a localCheckpoint here
    # serializes the DAG for a ~1 s tokenize, the same trade that lost in
    # lsh_verified_pairs (see its r7 note).
    toks = corpus.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    spans = _contamination_spans_from_tokens(
        toks, benchmark, n=n, min_common=min_common,
        text_col=text_col, id_col=id_col, bench_id_col="bench_id",
    )
    masked_pos = (
        spans.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("_p"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("_p")).alias("_mask"))
    )
    # the mask side is O(contaminated docs) — benchmark-overlap hits, tiny
    # by the operator's asymmetric design — so the join-back broadcasts it
    # rather than shuffling the whole corpus
    d = toks.join(F.broadcast(masked_pos), id_col, "left")
    mask = F.coalesce(F.col("_mask"), F.array().cast("array<int>"))
    d = d.select(F.col(id_col), F.col("_tk"), mask.alias("_m"))
    out_tokens = F.zip_with(
        F.col("_tk"),
        F.sequence(F.lit(1), F.size("_tk")),
        lambda t, i: F.when(F.array_contains(F.col("_m"), i), F.lit(mask_token)).otherwise(t),
    )
    # n_masked counts ACTUALLY-REPLACED tokens: for sub-n-token docs the
    # shingle window clamps to pos 1, so span expansion can emit indices
    # past len(_tk) — they never replace anything (zip_with stops at the
    # token array) and must not count. size(_tk) is O(1) per element.
    n_masked = F.size(F.filter(F.col("_m"), lambda p: p <= F.size("_tk")))
    # clean docs (the overwhelming majority under the operator's
    # asymmetric design) skip the interpreted per-token zip_with entirely
    # — their masked_text is just the re-joined token stream
    rendered = F.when(
        F.size("_m") == 0, F.concat_ws(" ", F.col("_tk"))
    ).otherwise(F.concat_ws(" ", out_tokens))
    return d.select(
        F.col(id_col),
        rendered.alias("masked_text"),
        n_masked.cast("long").alias("n_masked"),
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_common: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Benchmark decontamination — the cross-set containment operator a
    pretraining pipeline runs before every release: flag corpus documents
    sharing >= ``min_common`` DISTINCT n-gram shingles with any benchmark
    document (train-test overlap detection).

    Asymmetric by design: the benchmark side is tiny (eval suites are
    10^3-10^5 docs vs a 10^10-doc corpus), so its distinct hashed shingles
    BROADCAST and the corpus side is one explode + broadcast-hash join +
    count aggregation — the corpus shuffles only its matching (doc, bench)
    shingle hits, never its text. Contrast with the self-join Jaccard
    family (symmetric, inverted-index bound): containment against a fixed
    small set never needs the O(df^2) index.

    Plan invariant (test_plans asserts it): NOTHING corpus-sized crosses
    an exchange before the broadcast join — in particular no corpus-side
    ``distinct`` (a full shuffle of every (doc, shingle) pair in the
    corpus, the single largest shuffle a 10^10-doc run could issue, spent
    before the filter that discards ~100% of it). Within-doc duplicate
    shingles instead collapse in the post-join ``countDistinct``, which
    only ever sees matched hits; the answer is identical.

    Output: (id, bench_id, n_common) for every contaminated pair —
    downstream either drops the corpus doc or masks the overlapping span
    (:func:`ngram_contamination_spans` for the positions).
    """
    # r7: the corpus side probes the broadcast on xxhash64 (codegen-cheap)
    # instead of md5-hash15 — the md5 chain alone cost ~1.9 s of the 2.6M-
    # position corpus pass at the driver's sf1.0 (probe: explode+concat
    # 2.1 s, +md5 4.0 s, +xxhash 2.2 s). hash15 is then computed ONLY on
    # matched rows and re-checked against the benchmark's hash15, so the
    # aggregation counts exactly what the oracle counts (distinct shared
    # hash15 values); the effective match condition is xxh-equal AND
    # hash15-equal — a 2^-60-probability subset of the oracle's
    # hash15-equal, the same collision class the md5 join already had.
    c = exploded_shingles(corpus, text_col, id_col, n).select(
        F.col(id_col), F.xxhash64(F.col("_sh")).alias("_x"), F.col("_sh")
    )
    b = exploded_shingles(benchmark, text_col, id_col, n).select(
        F.col(id_col).alias(bench_id_col),
        F.xxhash64(F.col("_sh")).alias("_x"),
        hash15(F.col("_sh")).alias("_h"),
    ).distinct()
    return (
        c.join(F.broadcast(b), "_x")
        .where(hash15(F.col("_sh")) == F.col("_h"))
        .groupBy(id_col, bench_id_col)
        .agg(F.count_distinct(F.col("_h")).cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def ngram_contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_common: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Decontamination with SPAN output — the mask-not-drop workflow: for
    every contaminated (doc, bench) pair (same >= ``min_common`` distinct
    shared-shingle rule as :func:`ngram_contamination`), emit one row per
    matched shingle occurrence with its 1-based start position in the
    doc's normalized token stream, so downstream can mask the overlapping
    n-gram windows instead of dropping the whole document.

    Plan: identical asymmetric shape (broadcast benchmark hashes; corpus
    side explodes positions but NEVER shuffles unmatched rows) — the only
    exchange over corpus data carries matched (doc, pos, hash) hits, and
    ONE aggregation produces both the contamination verdict
    (count_distinct) and the position set (collect_set), per the
    single-derivation rule. Positions of duplicate occurrences of the
    same shared shingle are all emitted (each window needs masking).

    Output: (id, bench_id, pos) — pos is the shingle's start token index
    (1-based); the masked span is tokens [pos, pos + n - 1].

    Generator shape (the round-6 10x): positions come from exploding a
    CHEAP integer ``sequence`` and the shingle text+hash is built in the
    post-explode codegen projection (``slice`` on the carried-through
    token array). The previous form posexploded the materialized shingle
    array — and a Generate whose input is (or collapses to) the
    shingle-building ``transform`` re-evaluates it per output element:
    measured 10.3 s for the bare posexplode at sf0.1 vs 0.66 s for this
    shape (full operator 12.6 s -> 1.25 s, exact parity)."""
    d = corpus.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    return _contamination_spans_from_tokens(
        d, benchmark, n=n, min_common=min_common,
        text_col=text_col, id_col=id_col, bench_id_col=bench_id_col,
    )


def _contamination_spans_from_tokens(
    d: DataFrame,
    benchmark: DataFrame,
    n: int,
    min_common: int,
    text_col: str,
    id_col: str,
    bench_id_col: str,
) -> DataFrame:
    """Span extraction over an already-projected ``(id, _tk)`` corpus —
    shared by :func:`ngram_contamination_spans` and
    :func:`mask_contaminated` so the mask path derives the token stream
    once for spans and join-back alike."""
    # r7: same xxhash64-probe / hash15-on-matches shape as
    # :func:`ngram_contamination` (see the comment there) — the md5 chain
    # over every corpus position was ~1.9 s of this pass at sf1.0
    b = exploded_shingles(benchmark, text_col, id_col, n).select(
        F.col(id_col).alias(bench_id_col),
        F.xxhash64(F.col("_sh")).alias("_x"),
        hash15(F.col("_sh")).alias("_h"),
    ).distinct()
    e = d.select(
        F.col(id_col),
        F.col("_tk"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("_tk") - (n - 1), F.lit(1)))
        ).alias("pos"),
    )
    c = e.select(
        F.col(id_col),
        F.col("pos").cast("int").alias("pos"),
        F.concat_ws(" ", F.slice(F.col("_tk"), F.col("pos"), n)).alias("_sh"),
    ).select(
        F.col(id_col), F.col("pos"), F.xxhash64(F.col("_sh")).alias("_x"),
        F.col("_sh"),
    )
    agg = (
        c.join(F.broadcast(b), "_x")
        .where(hash15(F.col("_sh")) == F.col("_h"))
        .groupBy(id_col, bench_id_col)
        .agg(
            F.count_distinct(F.col("_h")).alias("_nc"),
            F.sort_array(F.collect_set("pos")).alias("_ps"),
        )
        .where(F.col("_nc") >= min_common)
    )
    return agg.select(
        F.col(id_col), F.col(bench_id_col), F.explode("_ps").alias("pos")
    )


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 15,
    max_tokens: int = 10_000,
    max_punct_ratio: float = 0.3,
    max_dup_3gram: float = 0.5,
    near_dup: bool = True,
    lsh_kwargs: dict | None = None,
) -> DataFrame:
    """The training-data curation pipeline composed end to end as ONE
    declarative plan — the query a 100 TB pretraining run actually issues:
    Gopher/C4-style quality + repetition features, exact-dedup keeper
    election, and near-dup group keeper election, joined per document with
    a final ``keep`` verdict.

    keep = exact-dedup keeper (min id of the fingerprint group)
         AND near-dup group keeper (min id of the LSH dedup group —
             every real curation run dedups fuzzily, not just exactly)
         AND min_tokens <= n_tokens <= max_tokens
         AND punct_ratio <= max_punct_ratio
         AND dup_3gram_frac <= max_dup_3gram

    Plan shape (r6): THREE derivations of the documents scan — the
    quality features carry the content fingerprint on their own
    projection (``quality_features(extra=)``) and the exact keeper is
    elected with ``min(id) over (partition by _fp)``, one window
    exchange over the slim feature rows instead of a fingerprint groupBy
    plus a join-back (the r5 shape paid an extra corpus scan, a second
    fingerprint evaluation, and one more id-shuffle join). Per-group
    window state is a single running min, so a 10^8-copy boilerplate
    fingerprint is safe. The other branches: repetition (explode +
    groupBy shuffle) and :func:`lsh_dedup_groups` (bucket-collision-
    bound candidates + verify + components fixpoint) — its group_id IS
    the component minimum, so keeper election there is a free
    comparison, not another aggregation. ``near_dup=False`` skips the
    fourth branch (and its fixpoint) for runs that exact-dedup only;
    ``lsh_kwargs`` forwards (k, bands, n, threshold, max_bucket_size).
    Output: (id, n_tokens, quality_score, dup_3gram_frac,
    is_exact_keeper, [is_neardup_keeper,] keep)."""
    from pyspark.sql import Window

    base = quality_features(
        df, text_col, id_col, extra={"_fp": fingerprint(F.col(text_col))}
    )
    r = repetition_features(df, text_col, id_col)
    # skew note (ADVICE r6): the window routes every duplicate group to
    # one partition and WindowExec buffers the whole partition per task —
    # fine for ordinary duplicate rates, but a pathological fingerprint
    # with 10^8 copies would serialize on one task; heavy-duplicate
    # corpora should elect the keeper with a salted two-level min-by-_fp
    # aggregation instead (the pre-r6 groupBy shape had map-side partials
    # and no skew exposure, at the cost of an extra scan + join).
    q = base.withColumn(
        "is_exact_keeper",
        F.col(id_col) == F.min(id_col).over(Window.partitionBy("_fp")),
    ).drop("_fp")
    out = q.join(r, id_col)
    keep = (
        F.col("is_exact_keeper")
        & F.col("n_tokens").between(min_tokens, max_tokens)
        & (F.col("punct_ratio") <= max_punct_ratio)
        & (F.col("dup_3gram_frac") <= max_dup_3gram)
    )
    nd_cols: list = []
    if near_dup:
        groups = lsh_dedup_groups(df, text_col, id_col, **(lsh_kwargs or {}))
        nd = groups.select(
            F.col(id_col),
            (F.col(id_col) == F.col("group_id")).alias("is_neardup_keeper"),
        )
        out = out.join(nd, id_col)
        keep = keep & F.col("is_neardup_keeper")
        nd_cols = [F.col("is_neardup_keeper")]
    return out.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("quality_score"),
        F.col("dup_3gram_frac"),
        F.col("is_exact_keeper"),
        *nd_cols,
        keep.alias("keep"),
    )


LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
    round_to: int = 6,
) -> DataFrame:
    """Corpus-LM quality scoring — the CCNet-style perplexity filter
    reduced to its unigram core: score every document by the mean log
    probability of its tokens under the corpus's own top-``vocab_size``
    unigram distribution (out-of-vocabulary tokens get the floor
    ``ln(1/total)``). Low scores flag boilerplate-free but *unnatural*
    text (lorem-ipsum, codes, mojibake) that length/punctuation heuristics
    miss; very high scores flag stopword soup.

    Plan: ONE explode+groupBy builds the vocab (map-side combined), the
    top-V cutoff is a TakeOrdered (deterministic tie-break on token), and
    scoring is explode -> broadcast-hash join against the V-row vocab ->
    per-doc avg — the corpus never shuffles, only its (doc, token) hits
    against a broadcast table, exactly the decontamination shape. Token
    logprobs round to ``round_to`` before the avg (cross-engine libm ulp
    absorption) and the avg rounds to 4.

    Output: (id, n_tokens, n_oov, avg_logprob)."""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
    toks = toks.where(F.col("_t") != "")
    # materialized once: the grouped counts feed BOTH the corpus total and
    # the top-V cutoff (two consumers re-derive the explode+groupBy
    # otherwise — the exchange-reuse rule); size is O(distinct tokens),
    # the vocab-build side, never the corpus
    counts = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    counts = counts.localCheckpoint(eager=True)
    total = int(counts.agg(F.sum("_c")).first()[0] or 0)
    vocab = (
        counts.orderBy(F.col("_c").desc(), F.col("_t")).limit(int(vocab_size))
        .select(
            "_t",
            F.round(F.log(F.col("_c") / F.lit(float(total))), round_to).alias("_lp"),
        )
    )
    import math

    floor_lp = round(math.log(1.0 / total), round_to) if total else 0.0
    scored = toks.join(F.broadcast(vocab), "_t", "left")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_lp").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.avg(F.coalesce(F.col("_lp"), F.lit(floor_lp))), 4
            ).alias("avg_logprob"),
        )
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language heuristic; deterministic tie-break by fixed
    language order (en > de > fr > es > unknown). Token array materialized
    before the 4 marker-filter HOFs (see :func:`shingles` perf warning)."""
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    toks = F.col("_tk")
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
    out = d.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
    )
    # recompute pred via CASE on the materialized scores (keeps the SQL
    # oracle expression identical): en wins ties, then de, fr, es
    s = {lang: F.col(f"score_{lang}") for lang in LANG_MARKERS}
    pred = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]) & (s["en"] > 0),
            F.lit("en"),
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0), F.lit("de"))
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), F.lit("fr"))
        .when(s["es"] > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    return out.withColumn("lang_pred", pred)


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + BPE-ish subword count (alnum runs + punct marks)."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), TOKEN_SPLIT_RE))
    bpe = F.size(F.regexp_extract_all(F.lower(t), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0))
    return df.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(bpe / ws, 6).alias("subword_ratio"),
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 50,
) -> DataFrame:
    """Near-dup pairs the 100 TB way: MinHash-LSH candidate generation +
    exact Jaccard verification of ONLY the candidates.

    The direct shingle self-join (:func:`ngram_jaccard_pairs`) scans the
    whole inverted index — O(sum df_s^2) join rows; here candidates come
    from band-bucket collisions (O(near-dups), the property LSH exists
    for), and the exact check touches candidate pairs only:

    1. band buckets -> per-bucket sorted id lists, buckets larger than
       ``max_bucket_size`` dropped (a degenerate bucket — boilerplate
       cluster or band collision storm — would alone contribute O(size^2)
       pairs; same guard as the jaccard df cutoff);
    2. local pair expansion per list (array HOF, no self-join shuffle),
       distinct across bands;
    3. verification joins each side's distinct hashed-shingle ARRAY (built
       once per doc) and intersects locally — |A∩B| via array_intersect,
       sizes via array_size: per-pair work is O(|A|+|B|), no explode.

    Verified pairs can MISS true pairs whose signatures never collide —
    that is LSH's recall trade, and the DuckDB oracle replays the exact
    same signature/bucket/cap pipeline so the miss set is identical
    cross-engine. Output matches ngram_jaccard_pairs: (id_a, id_b,
    n_common, jaccard)."""
    buckets = lsh_band_buckets(df, text_col, id_col, k, bands)
    inv = (
        buckets.groupBy("bucket")
        .agg(F.collect_list(id_col).alias("_ids0"))
        .where((F.size("_ids0") >= 2) & (F.size("_ids0") <= max_bucket_size))
        .select(F.array_sort("_ids0").alias("_ids"))
    )
    # r7 note: two "improvements" were probed here and REJECTED by
    # measurement — (a) localCheckpoint'ing inv+cand serializes the DAG
    # (10.5 s -> 12.2 s same-session), (b) pruning the verify-side array
    # build to candidate docs adds a second inv derivation that costs
    # more than the pruned transform saves (12.8 s). The single-DAG shape
    # below overlaps its stages across cores and stays the fastest.
    cand = (
        inv.select(F.explode(_local_pairs(F.col("_ids"))).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    sh = d.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(shingles_from_tokens(F.col("_tk"), n)), hash15
        ).alias("_sh"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb"))
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sha", "_shb")).cast("long").alias("n_common"),
            F.array_size("_sha").cast("long").alias("n_a"),
            F.array_size("_shb").cast("long").alias("n_b"),
        )
    )
    return (
        scored.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def lsh_dedup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 50,
) -> DataFrame:
    """The full production dedup pipeline at 100 TB: LSH candidates ->
    exact Jaccard verify -> connected-components closure -> (doc_id,
    group_id) for every document. Same output contract as
    :func:`dedup_groups`, but candidate generation is bucket-collision
    bound instead of inverted-index-self-join bound."""
    from ..operators.components import attach_components, connected_components

    pairs = lsh_verified_pairs(
        df, text_col, id_col, k=k, bands=bands, n=n,
        threshold=threshold, max_bucket_size=max_bucket_size,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return attach_components(df, comp, id_col=id_col, out_col="group_id")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    n_bits: int = 60,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming`` —
    COMPLETE, not approximate, by the pigeonhole band trick: the hash
    splits into ``bands`` equal slices, and two hashes within
    ``max_hamming < bands`` bit flips MUST agree on at least one whole
    slice, so the band-equality self-join (one shuffle on (band, value),
    never all-pairs) is a guaranteed-recall candidate generator; the exact
    ``bit_count(xor)`` check then runs per candidate pair only.

    ``n_bits`` defaults to 60 (Google's production simhash is 64-bit for
    the same reason): band selectivity is 2^(n_bits/bands) values, and a
    16-bit hash's 4-bit bands (16 values) put ~1/16 of the CORPUS in every
    bucket — the candidate join degenerates to all-pairs at scale
    (measured: 81 s at sf1 with 16-bit vs bucket-collision-bound with
    60-bit 15-bit bands).

    Output: (id_a, id_b, hamming)."""
    sim = simhash_df(df, text_col, id_col, n_bits=n_bits)
    return hamming_pairs(
        sim, hash_col="simhash", id_col=id_col,
        max_hamming=max_hamming, bands=bands, n_bits=n_bits,
    )


def hamming_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    n_bits: int = 60,
) -> DataFrame:
    """Complete Hamming-distance pairs over any PRECOMPUTED integer hash
    column (simhash, image dHash, audio fingerprint, ...) by the
    pigeonhole band trick — the shared banded-join back end of the
    hash-based near-dup family (see :func:`simhash_pairs` for the
    completeness argument and band-width sizing rule). ``n_bits`` must
    keep bit ``63`` clear (signed-long hashes would sign-extend through
    ``shiftright``); every in-repo producer emits <= 60 bits.

    Output: (id_a, id_b, hamming)."""
    if max_hamming >= bands:
        raise ValueError(
            f"completeness needs max_hamming < bands ({max_hamming} >= {bands})"
        )
    if n_bits % bands:
        raise ValueError(f"bands={bands} must divide n_bits={n_bits}")
    if n_bits > 62:
        raise ValueError(f"n_bits={n_bits} must fit a positive signed long")
    width = n_bits // bands
    mask = (1 << width) - 1
    band_rows = df.select(
        F.col(id_col),
        F.col(hash_col).alias("_hash"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(b),
                        F.shiftright(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bkey"),
    )
    a = band_rows.select(
        F.col(id_col).alias("id_a"), F.col("_hash").alias("_ha"), "bkey"
    )
    b = band_rows.select(
        F.col(id_col).alias("id_b"), F.col("_hash").alias("_hb"), "bkey"
    )
    cand = (
        a.join(b, "bkey")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ha", "_hb")
        .distinct()
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition-based quality filters — the Gopher / C4 family: heavily
    self-repeating documents (boilerplate, scraped nav, generation loops)
    are the classic low-quality signal a token-level filter misses.

    - ``dup_line_frac``: 1 - distinct/total raw lines (array expression,
      no shuffle);
    - ``dup_3gram_frac``: 1 - distinct/total word 3-grams;
    - ``top_2gram_frac``: occurrences of the most frequent 2-gram over
      total 2-grams.

    Plan shape (r7): the line fraction AND the 3-gram fraction are pure
    per-row array arithmetic — ``1 - size(array_distinct(grams)) /
    size(grams)`` — so they ride ONE shuffle-free scan projection; only
    the 2-gram mode count (max occurrences of any single gram) genuinely
    needs a (doc, gram) aggregation, so only the 2-gram stream explodes.
    The previous shape exploded BOTH streams and md5-hashed every gram
    (5M exploded rows + 5M md5s + a union'd two-level aggregation) to
    compute a distinct-count the array expression already yields —
    measured 12.1 s -> ~5 s at the driver's sf1.0. Grouping is on the RAW
    2-gram string (the DuckDB oracle groups raw strings too, so parity is
    now by construction rather than modulo md5 collisions); ~13-char
    grams on the wire vs 8-byte hashes is a fine trade for dropping the
    hash pass. An array-HOF mode count (per distinct gram inside one row)
    would be O(len^2) interpreted per document."""
    d = df.select(
        F.col(id_col), F.col(text_col), tokens(F.col(text_col)).alias("_tk")
    )
    # _s3 is referenced twice below (size + distinct-size): keeping it an
    # alias in its own projection stops CollapseProject from inlining the
    # transform twice (multi-referenced non-trivial aliases don't collapse)
    d3 = d.select(
        F.col(id_col),
        F.col(text_col),
        shingles_from_tokens(F.col("_tk"), 3).alias("_s3"),
    )
    lines = F.split(F.col(text_col), "\n")
    per_row = d3.select(
        F.col(id_col),
        F.round(
            1 - F.size(F.array_distinct(lines)) / F.size(lines).cast("double"), 6
        ).alias("dup_line_frac"),
        F.round(
            1
            - F.size(F.array_distinct(F.col("_s3")))
            / F.size(F.col("_s3")).cast("double"),
            6,
        ).alias("dup_3gram_frac"),
    )

    # 2-gram mode: seq-explode shape (explode a cheap int sequence, build
    # the gram with slice+concat in the post-explode codegen projection).
    # Exploding the shingle transform directly makes the transform the
    # Generate input, re-evaluated per OUTPUT element — measured 8.0 s vs
    # 4.5 s for this branch at the driver's sf1.0.
    e2 = d.select(
        F.col(id_col),
        F.col("_tk"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("_tk") - 1, F.lit(1)))
        ).alias("_p"),
    )
    ex2 = e2.select(
        F.col(id_col),
        F.concat_ws(" ", F.slice(F.col("_tk"), F.col("_p"), 2)).alias("_g"),
    )
    counts2 = ex2.groupBy(id_col, "_g").agg(F.count(F.lit(1)).alias("_c"))
    top2 = counts2.groupBy(id_col).agg(
        F.round(
            F.max(F.col("_c")) / F.sum(F.col("_c")).cast("double"), 6
        ).alias("top_2gram_frac"),
    )
    return per_row.join(top2, id_col).select(
        id_col, "dup_line_frac", "dup_3gram_frac", "top_2gram_frac"
    )
