"""Driver-contract parity: every queries() entry vs its oracle_sql() twin.

Mirrors the driver's CORRECTNESS check: row count + column names/types +
order-insensitive value comparison at sf0.01 (TESTDATA.md t2).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E

SF_DIR = os.environ.get("ENTRY_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["events", "documents"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        # unify integer flavors (duckdb hugeint/int32 vs spark long/int)
        if pd.api.types.is_integer_dtype(out[c]) or str(out[c].dtype) == "object":
            try:
                as_num = pd.to_numeric(out[c], errors="raise")
                if pd.api.types.is_integer_dtype(as_num):
                    out[c] = as_num.astype("Int64")
            except (ValueError, TypeError):
                pass
    out = out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    a = normalize_frame(spark_pdf[sorted(spark_pdf.columns)])
    b = normalize_frame(oracle_pdf[sorted(oracle_pdf.columns)])
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    for c in a.columns:
        ac, bc = a[c], b[c]
        if pd.api.types.is_float_dtype(ac) and pd.api.types.is_float_dtype(bc):
            ok = (
                (ac.isna() & bc.isna())
                | ((ac - bc).abs() <= 1e-9 + 1e-6 * bc.abs())
            )
        else:
            ok = (ac.isna() & bc.isna()) | (ac == bc)
        assert ok.all(), (
            f"{name}.{c}: {int((~ok).sum())} mismatches, first: "
            f"{ac[~ok].iloc[0]!r} vs {bc[~ok].iloc[0]!r} at {a.index[~ok][0]}"
        )


ORACLES = E.oracle_sql()
ALL_QUERIES = E.queries()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_parity(spark, ddb, name):
    spark_df = ALL_QUERIES[name](spark, SF_DIR)
    spark_pdf = spark_df.toPandas()
    oracle_pdf = ddb.execute(ORACLES[name]).fetchdf()
    compare(name, spark_pdf, oracle_pdf)


def test_rows_only_queries(spark):
    for name in set(ALL_QUERIES) - set(ORACLES):
        df = ALL_QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
