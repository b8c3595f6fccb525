"""Last-writer-wins reduce (W2): one row per key, the latest version.

Reference semantics: `row_number() over (partition by trade_id order by
amendment_version desc) = 1` (docs/identity.md:168-177).  Its sibling,
W1 first-arrival dedup, is the window
:func:`data_pipeline_spark.operators.windows.dedup_first_arrival`; the
CDC apply path runs neither — its merge reduce collapses duplicate
deliveries itself (``cdc/merge.py``).

Scale design: the LWW reduce is the shuffle that precedes the MERGE, and
hot doc_ids (zipf skew) would funnel into single reduce tasks.  We salt:
phase 1 reduces per (key, salt) — salt derived from the ordering column,
so a hot key's events split across `salt_buckets` tasks and are combined
by max_by partial aggregation map-side; phase 2 reduces the ≤salt_buckets
survivors per key.  This is the classic two-level aggregation; AQE skew
handling complements it for the join side (north_rule "skewed hot keys
are salted before the merge shuffle").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lww_reduce(
    df: DataFrame,
    key_col: str = "doc_id",
    order_col: str = "lsn",
    salt_buckets: int = 16,
) -> DataFrame:
    """Last-writer-wins: one row per key — the one with max order_col.

    Two-phase salted max_by (see module docstring).  Ties on order_col
    keep the first arrival by ingest_ts (a null ingest_ts loses) — the
    rule of ``merge_into``, the history apply and the oracle, so an
    input pre-reduced here leaves target and history the same copy.
    """
    others = [c for c in df.columns if c != key_col]
    packed = F.struct(*[F.col(c) for c in others])

    # the one ordering, over a row's columns or its packed struct
    def _order(row) -> F.Column:
        tie = (
            -F.unix_micros(row("ingest_ts"))
            if "ingest_ts" in df.columns
            else row(order_col)
        )
        return F.struct(row(order_col).alias("o1"), tie.alias("o2"))

    # Each phase aggregates with max_by ONLY: mixing max_by (typed-
    # imperative) with a declarative max(struct) forces SortAggregate —
    # a per-partition sort of the full batch.  Pure max_by runs as
    # ObjectHashAggregate (hash-based, map-side combine); phase 2
    # recomputes the ordering from the packed struct instead of carrying
    # a second aggregate.
    if salt_buckets and salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt_buckets))
        phase1 = df.groupBy(F.col(key_col), salt.alias("_salt")).agg(
            F.max_by(packed, _order(F.col)).alias("_row")
        )
        out = phase1.groupBy(key_col).agg(
            F.max_by(F.col("_row"), _order(F.col("_row").getField)).alias("_row")
        )
    else:
        out = df.groupBy(key_col).agg(F.max_by(packed, _order(F.col)).alias("_row"))
    return out.select(key_col, "_row.*")
