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
same lsn-guarded LWW at scan time, decides there which lane rows
replace a base row, and compaction folds the lane, so the
late/duplicate no-op guarantee (T4) holds at read time.  The merge
scans no file of the table; its work is O(batch):

    (change rows)
      → repartition(bucket)                      [the only wide shuffle]
      → groupBy(bucket, key).max_by(row, (lsn, -ingest_ts))
      → write as the bucket's delta files        [no second shuffle]

``groupBy(bucket, key)`` reuses the bucket repartition exchange (hash
partitioning on a subset of the grouping keys satisfies the clustered
distribution), and the bucketed delta write skips its own repartition.
The exchange takes no partition count: ``spark.sql.shuffle.partitions``
sets it and AQE may coalesce it, since a bucket is one hash key and so
stays in one task — one delta file per touched bucket.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..table.laketable import BUCKET_COL, DOP_COL, DORD_COL, LANE_COL, LakeTable
from ..table.mor import require_mode
from .schema import stamp_batch_id


def merge_into(
    table: LakeTable,
    changes: DataFrame,
    batch_id: int | str,
    affected: Iterable[int],
    ready: Callable[[], int] | None = None,
) -> dict:
    """Apply a change set to an upsert-mode merge-on-read table as one
    delta commit; returns metrics.

    `changes` carries doc_id, lsn, op, ingest_ts and payload columns:
    every other column of the frame is carried as payload, the table's
    own payload columns a frame lacks read back null.  It MAY contain
    multiple versions per doc_id: the per-(bucket, key) max_by
    collapses them map-side before the shuffle (partial aggregation is
    the hot-key salting), so a pre-reduced input (lww_reduce) is
    supported but not required.

    affected: the storage buckets the commit may write.  A superset is
    fine (``CdcPipeline.apply_batch`` passes every bucket); a change
    row outside it makes the commit raise ``ValueError``
    (``LakeTable._stage``).  No probe job runs here.

    ready: the wait for the caller's planning probe
    (``CdcPipeline.apply_batch``).  It is called once the plan is
    built, before the first Spark action, and returns the batch's
    distinct-key count — 0 for a batch with no change row, which is
    recorded without a write.  The caller applies the batch's schema
    changes before it returns.  The write then drops the payload
    columns the table still lacks, so a column's values from batches
    before its DDL are never written, and a DDL batch is planned once,
    like any other.  Without ``ready`` the plan is written at once.

    The reduce sees the batch's change rows only: whether a row
    replaces a stored one or is an insert is decided at read time
    (``table/mor.py:resolve_deltas``), so the merge scans no base file.
    """
    require_mode(table, "upsert")
    key = table.key_col
    payload_cols = [
        f
        for f in table.schema.fields
        if f.name not in (key, "lsn") and not f.name.startswith("_")
    ]
    carried = [
        c
        for c in changes.columns
        if c not in (key, "lsn", "op", "ingest_ts", *[f.name for f in payload_cols])
        and not c.startswith("_")
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
        *carried,
        batch_stamp.alias("_batch_id"),
        F.current_timestamp().alias("_applied_at"),
    )

    packed = F.struct(
        *[F.col(c) for c in d_side.columns if c not in (key, BUCKET_COL)]
    )
    # highest lsn wins; first arrival by ingest_ts breaks ties (a null
    # ingest_ts loses)
    order_key = F.struct(
        F.col("lsn").alias("o1"), (-F.unix_micros(DORD_COL)).alias("o2")
    )
    reduced = (
        d_side.repartition(BUCKET_COL)
        .groupBy(BUCKET_COL, key)
        .agg(F.max_by(packed, order_key).alias("_row"))
        .select(F.col(BUCKET_COL), F.col(key), "_row.*")
        .withColumn(LANE_COL, F.lit("delta"))
    )

    if ready is not None and not ready():
        table.record_batch(str(batch_id), {"rows": 0})
        return {"buckets": []}
    # write-time projection: only the columns the table holds now
    have = {f.name for f in table.schema.fields}
    table.merge_append(
        reduced.drop(*[c for c in carried if c not in have]),
        buckets=affected,
        batch_key=str(batch_id),
        batch_info={"buckets": sorted(affected)},
    )
    return {"buckets": sorted(affected)}
