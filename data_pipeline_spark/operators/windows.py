"""Window-function operators (SURVEY.md §2.5 W1-W8).

Each mirrors a reference pattern; all are plain Spark windows (Catalyst
handles them natively; no UDFs).  At scale the window partition key is
the shuffle key — these are used on (key) or (partition) columns that
are high-cardinality, so the shuffle is well-spread.  W2, last-writer-
wins per key, is not a window: ``cdc/dedup.py:lww_reduce`` uses salted
aggregation precisely because aggregation gets map-side partial
combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# W8, the SCD2 closure, lives beside the history writer that also runs it
from ..cdc.scd2 import scd2_close_windowed  # noqa: F401


def dedup_first_arrival(
    df: DataFrame, key_cols: list[str], arrival_cols: str | list[str]
) -> DataFrame:
    """W1 — first delivery per key wins (stg_rfqs.sql:17-27):
    row_number() over (partition by key order by arrival asc) = 1.
    Extra arrival columns act as deterministic tie-breakers."""
    if isinstance(arrival_cols, str):
        arrival_cols = [arrival_cols]
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in arrival_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def detect_sequence_gaps(
    df: DataFrame,
    partition_col: str,
    seq_col: str,
    severity_bounds: tuple[int, int, int] = (10, 100, 1000),
) -> DataFrame:
    """W3 — gap detection via lag (streaming_sequence_gaps.sql:20-70):
    lag(seq) over (partition by p order by seq); gap where cur - prev > 1;
    severity LOW ≤10 < MEDIUM ≤100 < HIGH ≤1000 < CRITICAL."""
    lo, mid, hi = severity_bounds
    w = Window.partitionBy(partition_col).orderBy(F.col(seq_col).asc())
    prev = F.lag(F.col(seq_col)).over(w)
    gap = (F.col(seq_col) - prev - 1).alias("gap_size")
    out = (
        df.select(
            F.col(partition_col).alias("partition"),
            prev.alias("_prev"),
            F.col(seq_col).alias("_cur"),
        )
        .filter(F.col("_prev").isNotNull() & (F.col("_cur") - F.col("_prev") > 1))
        .select(
            "partition",
            (F.col("_prev") + 1).alias("gap_start"),
            (F.col("_cur") - 1).alias("gap_end"),
            (F.col("_cur") - F.col("_prev") - 1).alias("gap_size"),
        )
        .withColumn("severity", gap_severity(F.col("gap_size"), severity_bounds))
    )
    return out


def gap_severity(
    gap_size, bounds: tuple[int, int, int] = (10, 100, 1000)
):
    """The reference's severity ladder (streaming_sequence_gaps.sql:63-68)
    as a reusable expression — single source of truth for the bounds."""
    lo, mid, hi = bounds
    return (
        F.when(gap_size <= lo, "LOW")
        .when(gap_size <= mid, "MEDIUM")
        .when(gap_size <= hi, "HIGH")
        .otherwise("CRITICAL")
    )


def consecutive_missing_streaks(
    status_df: DataFrame,
    group_col: str,
    date_col: str,
    missing_col: str,
) -> DataFrame:
    """W4 — gaps-and-islands running-sum streak grouping
    (source_completeness.sql:49-70): reset_group = running count of
    non-missing days; consecutive_missing = row_number within
    (group, reset_group) - 1 for missing days."""
    w_run = (
        Window.partitionBy(group_col)
        .orderBy(F.col(date_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_reset = status_df.withColumn(
        "reset_group",
        F.sum(F.when(F.col(missing_col) == 0, 1).otherwise(0)).over(w_run),
    )
    w_rn = Window.partitionBy(group_col, "reset_group").orderBy(F.col(date_col).asc())
    # reference formula verbatim: rn - 1 within the reset group
    return with_reset.withColumn(
        "consecutive_missing", (F.row_number().over(w_rn) - 1).cast("long")
    )
