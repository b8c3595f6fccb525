"""File sink (SURVEY.md S11).

The reference's consumer extract writes a 7-day window as JSONL.gz (or
Avro) to a bucket (orchestrator/orchestrator/extract.py:39-136).  The
Spark version is a plain distributed write — no temp-table /
extract-job choreography needed; the window filter is pushed into the
scan.  The quarantine of failed rows (S12, validator.py:428-449) is the
CDC pipeline's dead-letter table (``cdc/pipeline.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_window_df(
    df: DataFrame, ts_col: str, window_days: int = 7
) -> DataFrame:
    """The N-day rolling window relative to the data's max timestamp
    (surveillance_extract.sql:66 uses current_date; anchoring on max(ts)
    keeps replays deterministic)."""
    mx = df.agg(F.max(ts_col).alias("_mx"))
    return (
        df.crossJoin(F.broadcast(mx))
        .filter(F.col(ts_col) >= F.col("_mx") - F.expr(f"INTERVAL {window_days} DAYS"))
        .drop("_mx")
    )


def write_extract(
    df: DataFrame,
    out_dir: str,
    ts_col: str = "ts",
    window_days: int = 7,
    fmt: str = "jsonl.gz",
) -> None:
    """S11 — extract sink: window → compressed JSONL (or Avro when the
    spark-avro module is on the classpath)."""
    windowed = extract_window_df(df, ts_col, window_days)
    if fmt == "jsonl.gz":
        windowed.write.mode("overwrite").option("compression", "gzip").json(out_dir)
    elif fmt == "avro":
        windowed.write.mode("overwrite").format("avro").save(out_dir)
    else:
        raise ValueError(f"unsupported extract format: {fmt}")

