"""Physical-plan inspection helpers for tests/test_plans.py (SURVEY.md §4).

The reference hand-schedules its physical plan (thread pool + manual range
partitions); here Catalyst owns it, and these helpers are how the tests
*assert* that the optimizer actually delivered: filters pushed to the
parquet scan, small sides broadcast, aggregations map-side partial, one
shuffle per bucketed write. Plan regressions fail CI, not just slow down
the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count — every Exchange is a full network/disk round.

    Counts detail-section node headers `(N) Exchange` only (the formatted
    plan prints each node twice: tree + detail)."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def count_partial_final_aggs(df: DataFrame) -> int:
    """Aggregate node count (detail headers). 2+ = map-side partial combine
    ran before the shuffle — the built-in hot-key defense. max_by over a
    struct buffer plans as SortAggregate (structs aren't hash-buffer
    mutable); the partial/final split is what matters for skew."""
    return len(
        re.findall(
            r"\(\d+\) (?:HashAggregate|ObjectHashAggregate|SortAggregate)\b",
            formatted_plan(df),
        )
    )
