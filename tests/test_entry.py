"""Replicates the driver's correctness gate locally: every queries()
entry runs on Spark AND its oracle_sql() twin runs on DuckDB over the
same parquet; results must match row-for-row (order-insensitive),
column names and values aligned.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entrymod.TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6).astype(str)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool).astype(str)
        else:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


ORACLES = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = ALL_QUERIES[name](spark, SF).toPandas()
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert len(sdf) >= 0
        return
    ddf = duck.execute(ORACLES[name]).df()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"{name}: row count {len(sdf)} vs oracle {len(ddf)}"
    a, b = _normalize(sdf), _normalize(ddf)
    if not a.equals(b):
        diff_mask = (a != b).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch; first diffs:\n"
            f"spark:\n{a[diff_mask].head(5)}\noracle:\n{b[diff_mask].head(5)}"
        )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 3


def test_bench_contract_with_perfbench():
    """perfbench imports ``bench.HEADLINE_QUERIES``: importing bench
    must load no pyspark (so it can start no SparkSession), and every
    headline name must be a registered query."""
    probe = "import sys, bench; print(sorted(m for m in sys.modules if m.startswith('pyspark')))"
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]", out.stdout
    import bench

    missing = [q for q in bench.HEADLINE_QUERIES if q not in ALL_QUERIES]
    assert not missing, f"bench.HEADLINE_QUERIES not in queries(): {missing}"
