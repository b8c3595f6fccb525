"""Key-partitioned MERGE upsert into a LakeTable (SURVEY.md C1/C2/C9).

Semantics of one merge (the dbt-incremental / Iceberg MERGE INTO
analogue, trades_enriched.sql:2-13 + docs/identity.md:70-87):

    MERGE INTO target t USING deduped_changes s ON t.doc_id = s.doc_id
    WHEN MATCHED  AND s.lsn > t.lsn AND s.op =  'D' THEN DELETE
    WHEN MATCHED  AND s.lsn > t.lsn AND s.op != 'D' THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *

The lsn guard makes replays and late/duplicate batches no-ops (T4),
which is what makes the whole pipeline idempotent and exactly-once
composable with the commit manifest.

Write design — merge-on-read, ONE batch-sized shuffle per merge: the
reduced batch lands as an upsert DELTA commit (one full row version or
tombstone per changed key) and nothing existing is rewritten, so
per-batch write volume is O(batch) however the keys hash — rewriting
every touched bucket (copy-on-write) is O(table) at uniformly-hashed
keys.  The read side (``LakeTable.read``, table/mor.py) applies the
same lsn-guarded LWW at scan time and compaction folds the lane, so
the late/duplicate no-op guarantee (T4) holds at read time:

    (change rows) ∪ (touched buckets' base keys, narrow scan)
      → repartition(bucket)                      [the only wide shuffle]
      → groupBy(bucket, key).max_by(row, (change-over-key, lsn, -ingest_ts))
      → write as the bucket's delta files        [no second shuffle]

``groupBy(bucket, key)`` reuses the bucket repartition exchange (hash
partitioning on a subset of the grouping keys satisfies the clustered
distribution), and the bucketed delta write skips its own repartition.
The exchange takes no partition count: ``spark.sql.shuffle.partitions``
sets it and AQE may coalesce it, since a bucket is one hash key and so
stays in one task — one delta file per touched bucket.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..table.laketable import (
    BUCKET_COL,
    DINBASE_COL,
    DOP_COL,
    DORD_COL,
    LANE_COL,
    LakeTable,
)
from ..table.mor import require_mode
from .schema import stamp_batch_id


def merge_into(
    table: LakeTable,
    changes: DataFrame,
    batch_id: int | str,
    affected: Iterable[int],
) -> dict:
    """Apply a change set to an upsert-mode merge-on-read table as one
    delta commit; returns metrics.

    `changes` carries doc_id, lsn, op, and the table's payload columns.
    It MAY contain multiple versions per doc_id: the per-(bucket, key)
    max_by collapses them map-side before the shuffle (partial
    aggregation is the hot-key salting), so a pre-reduced input
    (lww_reduce) is supported but not required.

    affected: the batch plan's set of touched storage buckets (the
    caller's fused planning probe, CdcPipeline.apply_batch); no probe
    job runs here.  Passing it wrong (a superset is fine — extra
    buckets only widen the base-key scan; a SUBSET would flag stored
    keys of the missing buckets as not-in-base) is on the caller.

    The ``_in_base`` stamp (insert-vs-update disambiguation for the
    shuffle-free broadcast read path) is FUSED into the reduce: the
    touched buckets' base keys ride the same exchange as the change
    rows, so no join stage exists.  When those buckets have NO base
    files yet (fresh table, or every prior batch still in the delta
    lane) even that scan is skipped — every key is not-in-base.
    """
    require_mode(table, "upsert")
    key = table.key_col
    payload_cols = [
        f
        for f in table.schema.fields
        if f.name not in (key, "lsn") and not f.name.startswith("_")
    ]

    d = changes.withColumn(BUCKET_COL, table.bucket_of(key))
    affected = [int(b) for b in affected]
    if not affected:
        table.record_batch(str(batch_id), {"rows": 0})
        return {"buckets": []}

    batch_stamp = F.lit(stamp_batch_id(batch_id)).cast("long")
    d_side = d.select(
        F.col(key),
        F.col(BUCKET_COL),
        F.col("lsn"),
        F.col("op").alias(DOP_COL),
        # deterministic tie-break for malformed upstreams: two DISTINCT
        # change rows with the same (key, lsn) pick the first arrival by
        # ingest_ts — the history apply's and the oracle's rule — instead
        # of an arbitrary winner (payload-identical at-least-once
        # duplicates are unaffected either way)
        (
            F.col("ingest_ts")
            if "ingest_ts" in changes.columns
            else F.lit(None).cast("timestamp")
        ).alias(DORD_COL),
        *[
            (F.col(f.name) if f.name in changes.columns else F.lit(None)).cast(
                f.dataType
            ).alias(f.name)
            for f in payload_cols
        ],
        batch_stamp.alias("_batch_id"),
        F.current_timestamp().alias("_applied_at"),
        F.lit(False).alias("_inb"),
    )

    value_cols = [c for c in d_side.columns if c not in (key, BUCKET_COL, "_inb")]
    # base-key side: a narrow bucket-pruned single-column scan, padded
    # with null payload so it unions into the reduce.  Skipped entirely
    # when the buckets' base lists are empty (driver-side manifest
    # check — upsert targets have no base files until first compaction)
    combined = d_side
    base_stats = table.base_file_stats()
    if any(base_stats.get(int(b)) for b in affected):
        keys_side = (
            table.read(buckets=affected, with_deltas=False)
            .select(key)
            .withColumn(BUCKET_COL, table.bucket_of(key))
            .select(
                F.col(key),
                F.col(BUCKET_COL),
                *[
                    F.lit(None).cast(d_side.schema[c].dataType).alias(c)
                    for c in value_cols
                ],
                F.lit(True).alias("_inb"),
            )
        )
        combined = d_side.unionByName(keys_side)

    packed = F.struct(*[F.col(c) for c in value_cols])
    # change rows outrank base-key marker rows (o0); within the batch:
    # highest lsn wins, first arrival by ingest_ts breaks ties (a null
    # ingest_ts loses)
    order_key = F.struct(
        (~F.col("_inb")).alias("o0"),
        F.col("lsn").alias("o1"),
        (-F.unix_micros(DORD_COL)).alias("o2"),
    )
    flagged = (
        combined.repartition(BUCKET_COL)
        .groupBy(BUCKET_COL, key)
        .agg(
            F.max_by(packed, order_key).alias("_row"),
            F.max(F.col("_inb")).alias(DINBASE_COL),
        )
        # keys present only in base (no change row) surface a null-op
        # winner — nothing to write for them
        .filter(F.col(f"_row.{DOP_COL}").isNotNull())
        .select(F.col(BUCKET_COL), F.col(key), "_row.*", F.col(DINBASE_COL))
        .withColumn(LANE_COL, F.lit("delta"))
    )

    table.merge_append(
        flagged,
        buckets=affected,
        batch_key=str(batch_id),
        batch_info={"buckets": sorted(affected)},
    )
    return {"buckets": sorted(affected)}
