"""Single-process oracle fold for parity tests (SURVEY.md §5.2, FIXTURES.md §6).

Replaces the reference's count-only validation (reference: README.md:41-47,
``db.sample_docs.count()``) with full-state equality: DuckDB folds the same
change files — sort by (seq, rev generation, rev hash), keep last per
(conv_id, turn_idx), drop keys whose winner is a delete, normalize text
with ``normalize_text_py``, the plain-Python definition the engine's JVM
normalizer follows (no code shared with the engine).
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd

from couch_to_mongo_spark.functions.normalize import normalize_text_py


def expected_state(
    changes_dir_or_df: str | pd.DataFrame,
    extra_cols: list[str] | None = None,
    normalize: bool = True,
) -> pd.DataFrame:
    """Fold the change feed to the expected final table state.

    Returns a pandas frame sorted by (conv_id, turn_idx) with columns
    conv_id, turn_idx, role, text, tool, ts [+ extra_cols].
    """
    con = duckdb.connect()
    if isinstance(changes_dir_or_df, str):
        files = sorted(glob.glob(os.path.join(changes_dir_or_df, "*.parquet")))
        rel = f"read_parquet({files!r}, union_by_name=true)"
    else:
        con.register("changes_df", changes_dir_or_df)
        rel = "changes_df"
    extras = "".join(f", {c}" for c in (extra_cols or []))
    q = f"""
        WITH ranked AS (
            SELECT *,
                   CAST(split_part(_rev, '-', 1) AS BIGINT) AS rev_gen,
                   row_number() OVER (
                       PARTITION BY conv_id, turn_idx
                       ORDER BY seq DESC,
                                CAST(split_part(_rev, '-', 1) AS BIGINT) DESC,
                                _rev DESC
                   ) AS rn
            FROM {rel}
        )
        SELECT conv_id, turn_idx, role, text, tool, ts{extras}
        FROM ranked
        WHERE rn = 1 AND op <> 'd'
        ORDER BY conv_id, turn_idx
    """
    out = con.execute(q).fetchdf()
    if normalize:
        out["text"] = out["text"].map(normalize_text_py)
    out = out.reset_index(drop=True)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out


def assert_state_parity(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    """Row count + schema + per-turn value equality under stable ordering."""
    a = actual.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    e = expected.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(a.columns) == list(e.columns), f"columns: {list(a.columns)} vs {list(e.columns)}"
    assert len(a) == len(e), f"row count: {len(a)} vs {len(e)}"
    for c in a.columns:
        ac, ec = a[c], e[c]
        if pd.api.types.is_datetime64_any_dtype(ec):
            ac = pd.to_datetime(ac).dt.tz_localize(None)
            ec = pd.to_datetime(ec).dt.tz_localize(None)
        mism = ~((ac == ec) | (ac.isna() & ec.isna()))
        assert not mism.any(), (
            f"column {c}: {int(mism.sum())} mismatches; first at row "
            f"{mism.idxmax()}: {ac[mism.idxmax()]!r} vs {ec[mism.idxmax()]!r}"
        )
