"""Correctness checks run outside every timed region.

* CDC workloads: the final target state must equal ``cdc.oracle``'s
  expected state with exact token arrays, and the SCD2 history must equal
  ``expected_history`` row for row (keys, ops, payloads, validity bounds,
  ``is_current``).
* corpus_queries: each headline query's rows must equal its DuckDB twin
  from ``__spark_entry__.oracle_sql()`` as a multiset (columns matched
  by name, floats compared at 6 decimals).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


class CheckFailed(AssertionError):
    """An output differs from its oracle."""


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


# ----------------------------------------------------------------------
# CDC: final state + SCD2 history against cdc/oracle.py
# ----------------------------------------------------------------------
class Oracle:
    """``cdc.oracle``'s expected outputs for one log, computed once."""

    def __init__(self, log_dir: str):
        from data_pipeline_spark.cdc.oracle import (
            expected_final_state,
            expected_history,
            load_log,
        )

        log = load_log(log_dir)
        self.final_state = expected_final_state(log)
        self.history = expected_history(log)


def check_final_state(pipeline, oracle: Oracle) -> None:
    from data_pipeline_spark.cdc.oracle import assert_tokens_equal

    actual = (
        pipeline.current_state()
        .select("doc_id", "tokens", "n_tok", "source")
        .toPandas()
    )
    try:
        assert_tokens_equal(actual, oracle.final_state)
    except AssertionError as e:
        raise CheckFailed(f"final state: {e}") from e


_HIST_SCALARS = ("doc_id", "lsn", "op", "n_tok", "source", "is_current")


def check_history(pipeline, oracle: Oracle) -> None:
    """Compare every SCD2 version; timestamps as epoch microseconds so the
    9999-12-31 open bound survives the trip to Arrow."""
    from pyspark.sql import functions as F

    exp = oracle.history
    exp = exp.assign(
        valid_from_utc=exp["valid_from_utc"].astype("datetime64[us]").astype(np.int64),
        valid_to_utc=exp["valid_to_utc"].astype("datetime64[us]").astype(np.int64),
    )
    expected = pa.Table.from_pandas(exp, preserve_index=False)
    actual = (
        pipeline.history_df()
        .select(
            *_HIST_SCALARS,
            "tokens",
            F.unix_micros("valid_from_utc").alias("valid_from_utc"),
            F.unix_micros("valid_to_utc").alias("valid_to_utc"),
        )
        .toArrow()
    )
    _require(
        actual.num_rows == expected.num_rows,
        f"history rows {actual.num_rows} != expected {expected.num_rows}",
    )
    keys = [("doc_id", "ascending"), ("lsn", "ascending")]
    a = actual.sort_by(keys)
    e = expected.sort_by(keys)
    for col in (*_HIST_SCALARS, "valid_from_utc", "valid_to_utc"):
        av = a.column(col).to_pylist()
        ev = [None if v is not None and v != v else v for v in e.column(col).to_pylist()]
        _require(av == ev, f"history column {col} differs")
    at, et = a.column("tokens").combine_chunks(), e.column("tokens").combine_chunks()
    _require(
        at.null_count == et.null_count
        and pc.all(pc.equal(pc.is_null(at), pc.is_null(et))).as_py(),
        "history token nulls differ",
    )
    alen = pc.fill_null(pc.list_value_length(at), 0).to_numpy()
    elen = pc.fill_null(pc.list_value_length(et), 0).to_numpy()
    _require(np.array_equal(alen, elen), "history token lengths differ")
    af = pc.list_flatten(at).to_numpy(zero_copy_only=False).astype(np.int64)
    ef = pc.list_flatten(et).to_numpy(zero_copy_only=False).astype(np.int64)
    _require(np.array_equal(af, ef), "history token arrays differ")


def check_as_of(pipeline, oracle: Oracle, instant: str) -> None:
    """The versions ``as_of`` returns at ``instant`` must be exactly the
    oracle history's live versions whose validity covers it."""
    import pandas as pd

    from data_pipeline_spark.cdc.scd2 import as_of

    exp = oracle.history
    t = pd.Timestamp(instant).as_unit("us").to_datetime64()
    live = exp[
        (exp["valid_from_utc"].to_numpy(dtype="datetime64[us]") <= t)
        & (exp["valid_to_utc"].to_numpy(dtype="datetime64[us]") >= t)
        & (exp["op"] != "D").to_numpy()
    ]
    expected = sorted(zip(live["doc_id"], live["lsn"].astype(int)))
    got = sorted(
        (r.doc_id, int(r.lsn))
        for r in as_of(pipeline.history_df(), instant).select("doc_id", "lsn").collect()
    )
    _require(got == expected, f"as_of({instant}): {len(got)} versions, oracle {len(expected)}")


# ----------------------------------------------------------------------
# corpus queries against the DuckDB twins
# ----------------------------------------------------------------------
def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def duckdb_connection(corpus_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(corpus_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(corpus_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    con.execute("SET TimeZone='UTC'")
    return con


def check_query(scols, spark_rows, con, oracle_sql: str, name: str) -> int:
    """Raise CheckFailed unless the rows Spark returned equal the DuckDB
    rows; return the row count."""
    srows = [tuple(r) for r in spark_rows]
    cur = con.execute(oracle_sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    _require(sorted(scols) == sorted(ocols), f"{name}: columns {scols} vs {ocols}")
    _require(len(srows) == len(orows), f"{name}: rows {len(srows)} vs {len(orows)}")
    _require(_rowset(scols, srows) == _rowset(ocols, orows), f"{name}: values differ")
    return len(srows)
