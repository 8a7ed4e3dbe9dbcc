"""Last-writer-wins dedup — the engine's correctness kernel (SURVEY.md §2.5 A4).

The reference coalesces many changes to one doc within a poll into one id
(Set) and re-fetches the winning revision — last-writer-wins per key per
batch (reference: ChangeFeedClient.java:136-150, 104-113). Our rendering:
one row per ``(conv_id, turn_idx)`` ordered by ``(seq, rev generation,
rev hash)`` descending.

Two implementations, deterministic and equivalent (tested against each
other in tests/test_units.py):

- :func:`lww_dedup` — ``max_by(struct(payload), struct(order))`` grouped
  by key: **the read-side fold only** (``merge.fold_stored_rows``).
  Planned as a partial and a final ``SortAggregate``, each behind its own
  Sort (a struct buffer is not hash-aggregate mutable); the partial
  aggregate still combines a hot key per input partition before the
  shuffle, and a key filter above the fold reaches the scan.
- :func:`bucket_partitioned_lww` — bucket repartition, then a window LWW
  inside those partitions: **the write-side kernel** of every writer
  (``merge.write_winners``), its one shuffle shared with the bucketed
  write. The window folds a hot conversation's keys to one row each
  before the write, so the write is O(distinct keys), not O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_rev_gen(df: DataFrame, rev_col: str = "_rev", out_col: str = "rev_gen") -> DataFrame:
    """Parse CouchDB-style ``N-hash`` revision into its integer generation.

    Reference delegates conflict resolution to CouchDB and reads the winner
    (SURVEY.md §2.9 C4); we make the ordering explicit: generation then hash.
    """
    return df.withColumn(
        out_col,
        F.coalesce(F.split(F.col(rev_col), "-").getItem(0).cast("long"), F.lit(0)),
    )


def _order_struct(order_cols: list[str]):
    return F.struct(*[F.col(c) for c in order_cols])


def lww_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """One row per key: the row with the max ``order_cols`` tuple.

    ``max_by(struct(<all cols>), struct(<order cols>))`` — structs compare
    lexicographically field-by-field, so the ordering is total as long as
    ``order_cols`` ends in a tiebreaker (we use seq, rev_gen, _rev; seq is
    globally unique so ties cannot occur in practice). Planned as partial
    and final ``SortAggregate``; the read-side fold, never a writer's.

    Key columns come from the group keys, not from the winner struct (same
    values, same column order): a filter on a key column above the fold
    then pushes below the aggregate into the scan.
    """
    payload = [c for c in df.columns]
    agg = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*payload).alias("_p"), _order_struct(order_cols)).alias("_w")
    )
    return agg.select(
        *[F.col(c) if c in key_cols else F.col(f"_w.{c}").alias(c) for c in payload]
    )


def bucket_partitioned_lww(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    n_buckets: int,
) -> DataFrame:
    """Single-shuffle LWW for every writer: repartition by ``bucket(key_cols[0])``
    FIRST, then dedup with a window whose partitionBy is a superset of the
    partition key — Catalyst plans the window with NO further exchange
    (Sort + WindowGroupLimit prune losers in place), and a
    bucket-partitioned write downstream streams straight out of the same
    partitions, one file per touched bucket. Exactly one full-payload
    shuffle end to end (plan-asserted:
    tests/test_plans.py::test_fast_merge_single_shuffle).

    Returns the deduped frame WITH the transient ``_bucket`` column still
    attached.
    """
    from couch_to_mongo_spark.tableformat import BUCKET_COL, bucket_expr

    b = df.withColumn(BUCKET_COL, bucket_expr(key_cols[0], n_buckets))
    b = b.repartition(n_buckets, F.col(BUCKET_COL))
    w = Window.partitionBy(BUCKET_COL, *key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        b.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
