"""Connected components over a pair graph — the dedup-group endgame.

Near-dup detection (MinHash/LSH, n-gram Jaccard, SimHash) emits
*pairs*; a training-data pipeline needs *groups* with one canonical keeper
per group (component min). At 100 TB the pair graph itself is large and its
components can chain (A~B~C without A~C), so the grouping step must be a
distributed fixpoint, not a driver-side union-find.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii — "Connected Components in MapReduce and Beyond",
SoCC 2014). Each operation is fully relational (groupBy-min + join — no
collect_list, so a hot node with 10^6 neighbors never materializes its
neighborhood in one row), preserves connectivity, and the alternation
converges in O(log^2 n) rounds (O(log n) observed) to a star forest where
every node points at its component's minimum id.

Per round the edge-set lineage is truncated with localCheckpoint — an
iterative fixpoint otherwise compounds the query plan exponentially. On a
real cluster prefer reliable checkpointing (spark.sparkContext.setCheckpointDir
+ .checkpoint()) for executor-loss tolerance; localCheckpoint keeps the
sandbox path dependency-free.

Reference parity note: simagix/couch-to-mongo has no grouping stage at all
(its dedup is per-poll id-distinct, Mongo.java upsert loop); this operator
is part of the beyond-reference training-data suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["connected_components", "attach_components"]


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected canonical form: (a=min endpoint, b=max endpoint), distinct,
    self-loops dropped."""
    a, b = F.col("a"), F.col("b")
    return (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    """Cheap set-equality fingerprint for the convergence check: row count +
    order-insensitive sum of per-edge xxhash64 (as decimal — no overflow).
    One aggregate job, 1 collected row."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(u): connect every strictly-greater neighbor of u to
    m = min(N(u) ∪ {u}). Relational: per-node min via groupBy (partial
    aggregation — map-side combine keeps hot nodes cheap), then one join
    back to the symmetric edge list."""
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(u): over edges pointing to smaller ids, connect u and all
    its smaller neighbors to their collective min."""
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    to_smaller = sym.where(F.col("b") < F.col("a"))
    mins = to_smaller.groupBy("a").agg(F.min("b").alias("m"))
    joined = to_smaller.join(mins, "a")
    return joined.select(F.col("b").alias("a"), F.col("m").alias("b")).union(
        mins.select(F.col("a").alias("a"), F.col("m").alias("b"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(id, component) for every node that appears in `pairs`; component =
    minimum node id reachable. Ids may be any orderable type (string ids
    from the documents table work as-is).

    Raises RuntimeError if the fixpoint hasn't converged after `max_iters`
    alternations — the alternation provably converges in O(log^2 n) rounds,
    so hitting the bound means the input is pathological, not slow.
    """
    edges = _canon(pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    # checkpoint BEFORE the emptiness probe: head(1) on the raw frame would
    # execute the (often expensive) upstream pair pipeline once for the
    # probe and AGAIN for the checkpoint — measured 2x the whole
    # jaccard stage at sf1 (47s -> 27s for dedup_groups)
    edges = edges.localCheckpoint(eager=True)
    if not edges.head(1):
        return edges.select(
            F.col("a").alias("id"), F.col("b").alias("component")
        )

    sig = _signature(edges)
    for _ in range(max_iters):
        stepped = _canon(_small_star(_large_star(edges)))
        stepped = stepped.localCheckpoint(eager=True)
        new_sig = _signature(stepped)
        converged = False
        if new_sig == sig:
            # The fingerprint (count + xxhash64 sum) gates iterations
            # cheaply, but it is probabilistic — confirm the final round
            # with ONE exact set-equality check so correctness never rests
            # on a hash sum. Equal counts (from the signature) + distinct
            # sets make one-directional exceptAll sufficient; both frames
            # are checkpointed, so this scans materialized data only.
            converged = stepped.exceptAll(edges).isEmpty()
        edges.unpersist()
        edges = stepped
        if converged:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )

    # converged star forest: every edge is (member, component-min); roots are
    # implicit (the min itself) — add them back so every node gets a row
    members = edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    roots = edges.select(F.col("a").alias("a"), F.col("a").alias("b")).distinct()
    return (
        members.union(roots)
        .distinct()
        .select(F.col("a").alias("id"), F.col("b").alias("component"))
    )


def attach_components(
    ids: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "group_id",
) -> DataFrame:
    """Join the component mapping onto the full id universe: singletons (ids
    in no pair) become their own group. No forced broadcast: web-scale dup
    rates run 30-50%, so the mapping can be O(corpus) — AQE upgrades the
    join to broadcast-hash at runtime when the mapping is actually small."""
    comp = components.select(
        F.col("id").alias(id_col), F.col("component").alias(out_col)
    )
    return (
        ids.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(out_col), F.col(id_col)).alias(out_col),
        )
    )
