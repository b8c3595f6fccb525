"""Reference reducer (pandas) for replay-equivalence tests.

Computes the expected final state of the target table and the SCD2
history from a raw change log, independently of the Spark engine —
the analogue of the reference's snapshot fixtures + idempotency tests
(docs/identity.md:243-256, docs/testing.md).

Semantics (SURVEY.md §7.1):
* duplicates at (doc_id, lsn): first arrival wins (min ingest_ts) —
  payloads are identical anyway (stg_rfqs.sql:17-27);
* per doc: last-writer-wins at max lsn (docs/identity.md:168-177);
* doc absent from final state iff its max-lsn op is D;
* history: one row per (doc_id, lsn) version, valid_from = ingest_ts,
  valid_to = next version's valid_from - 1s else END_OF_TIME
  (close_prior_versions.sql:22,44), is_current = last && op != 'D'.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

END_OF_TIME_TS = pd.Timestamp("9999-12-31 23:59:59").as_unit("us")


def load_log(log_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(log_dir, "*.parquet")))
    return ds.dataset(files).to_table().to_pandas()


def dedup_log(log: pd.DataFrame) -> pd.DataFrame:
    """Drop SCHEMA records and duplicate deliveries (first arrival wins)."""
    ev = log[log["op"] != "SCHEMA"].copy()
    ev = ev.sort_values(["doc_id", "lsn", "ingest_ts"], kind="mergesort")
    return ev.drop_duplicates(subset=["doc_id", "lsn"], keep="first")

def expected_final_state(log: pd.DataFrame) -> pd.DataFrame:
    """Expected target table: doc_id, tokens, n_tok, source."""
    ev = dedup_log(log)
    last = ev.sort_values(["doc_id", "lsn"], kind="mergesort").groupby("doc_id").tail(1)
    live = last[last["op"] != "D"]
    out = live[["doc_id", "tokens", "n_tok", "source"]].reset_index(drop=True)
    return out.sort_values("doc_id").reset_index(drop=True)


def expected_history(log: pd.DataFrame) -> pd.DataFrame:
    """Expected SCD2 history rows per (doc_id, lsn) version."""
    ev = dedup_log(log).sort_values(["doc_id", "lsn"], kind="mergesort").copy()
    ev["valid_from_utc"] = ev["ingest_ts"].astype("datetime64[us]")
    nxt = (
        ev.groupby("doc_id")["valid_from_utc"].shift(-1).to_numpy(dtype="datetime64[us]")
    )
    missing = pd.isna(nxt)
    valid_to = nxt - np.timedelta64(1, "s")
    valid_to[missing] = END_OF_TIME_TS.to_datetime64()
    ev["valid_to_utc"] = valid_to
    ev["is_current"] = missing & (ev["op"] != "D").to_numpy()
    cols = [
        "doc_id", "lsn", "op", "tokens", "n_tok", "source",
        "valid_from_utc", "valid_to_utc", "is_current",
    ]
    return ev[cols].reset_index(drop=True)


def _assert_token_arrays_equal(a: pd.DataFrame, e: pd.DataFrame, what: str) -> None:
    """EXACT token-array equality, row by row, of two aligned frames."""
    for i, (ta, te) in enumerate(zip(a["tokens"], e["tokens"])):
        ta = np.asarray(ta, dtype=np.int64) if ta is not None else None
        te = np.asarray(te, dtype=np.int64) if te is not None else None
        if ta is None or te is None:
            assert ta is te, f"tokens null mismatch at row {i} ({a['doc_id'][i]})"
        else:
            assert ta.shape == te.shape and (ta == te).all(), (
                f"token arrays differ for {what} {a['doc_id'][i]}"
            )


def assert_tokens_equal(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    """Row-by-row equivalence with EXACT token-array equality per doc_id
    (BASELINE.json invariant)."""
    a = actual.sort_values("doc_id").reset_index(drop=True)
    e = expected.sort_values("doc_id").reset_index(drop=True)
    assert len(a) == len(e), f"row count {len(a)} != expected {len(e)}"
    assert list(a["doc_id"]) == list(e["doc_id"]), "doc_id sets differ"
    for col in ("n_tok", "source"):
        if col in a.columns and col in e.columns:
            av = a[col].where(pd.notna(a[col]), None).tolist()
            ev_ = e[col].where(pd.notna(e[col]), None).tolist()
            assert av == ev_, f"column {col} differs"
    _assert_token_arrays_equal(a, e, "doc")


def assert_history_equal(pipeline, log: pd.DataFrame) -> None:
    """The pipeline's SCD2 history equals ``expected_history(log)`` row
    for row: (doc_id, lsn, op, tokens, valid_from, valid_to, is_current).
    Timestamps compare as epoch µs — the 9999-12-31 open bound overflows
    pandas' datetime64[ns]."""
    cols = ["doc_id", "lsn", "op", "is_current", "valid_from_us", "valid_to_us"]
    actual = pipeline.history_df().selectExpr(
        "doc_id", "lsn", "op", "tokens", "is_current",
        "unix_micros(valid_from_utc) AS valid_from_us",
        "unix_micros(valid_to_utc) AS valid_to_us",
    ).toPandas()
    exp = expected_history(log)
    expected = exp.assign(
        valid_from_us=exp["valid_from_utc"].astype("datetime64[us]").astype(np.int64),
        valid_to_us=exp["valid_to_utc"].astype("datetime64[us]").astype(np.int64),
    )
    a = actual.sort_values(["doc_id", "lsn"]).reset_index(drop=True)
    e = expected.sort_values(["doc_id", "lsn"]).reset_index(drop=True)
    assert len(a) == len(e), f"history rows {len(a)} != expected {len(e)}"
    for col in cols:
        assert a[col].tolist() == e[col].tolist(), f"history column {col} differs"
    _assert_token_arrays_equal(a, e, "version of doc")
