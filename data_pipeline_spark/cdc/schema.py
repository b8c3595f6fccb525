"""Schemas for the CDC engine (FIXTURES.md §1-§5, BASELINE.json input_hint).

The change-event log mirrors the reference's streaming row shape
(`terraform/int/schemas/rfq_stream.json` fields `_kafka_partition`,
`_kafka_offset`, `_ingestion_time`; order-event lifecycle per
`basic_orchestrator/dbt/models/staging/stg_futures_order_events.sql`),
re-keyed onto the tokenized-sequence payload from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Sentinel "current version" end timestamp — the reference's end_of_time()
# macro (basic_orchestrator/dbt/macros/cross_db/timestamps.sql).
END_OF_TIME = "9999-12-31 23:59:59"

# The CDC log tail the engine replays.
CHANGE_EVENT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),        # business key
        StructField("lsn", LongType()),             # ordering (≈ _kafka_offset / event_seq)
        StructField("op", StringType()),            # I / U / D / SCHEMA
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),        # appears mid-stream (additive evolution)
        StructField("ddl", StringType()),           # SCHEMA rows: "col:type[,col:type]"
        StructField("partition", IntegerType()),    # ≈ _kafka_partition
        StructField("ingest_ts", TimestampType()),  # ≈ _ingestion_time
    ]
)

# Target "current state" table BEFORE the mid-stream schema evolution adds
# `source` (BASELINE.json input_hint).  lsn/_batch_id/_applied_at are the
# version guard + lineage stamps (reference `_load_id`, main.py:290).
TARGET_SCHEMA_BASE = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("lsn", LongType()),
        StructField("_batch_id", LongType()),
        StructField("_applied_at", TimestampType()),
    ]
)

TARGET_SCHEMA = StructType(
    TARGET_SCHEMA_BASE.fields[:3]
    + [StructField("source", StringType())]
    + TARGET_SCHEMA_BASE.fields[3:]
)

# SCD2 / bi-temporal history (reference fact_futures_order_event.sql:15-36).
HISTORY_SCHEMA_BASE = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("lsn", LongType()),
        StructField("op", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("valid_from_utc", TimestampType()),
        StructField("valid_to_utc", TimestampType()),
        StructField("is_current", BooleanType()),
    ]
)

HISTORY_SCHEMA = StructType(
    HISTORY_SCHEMA_BASE.fields[:5]
    + [StructField("source", StringType())]
    + HISTORY_SCHEMA_BASE.fields[5:]
)

# Merge-on-read layouts of the two CDC tables (table/mor.py): the target
# takes whole-row upserts / tombstones per doc_id, newest lsn wins; the
# history takes patches of the derived validity columns of a stored
# (doc_id, lsn) version.
TARGET_MOR = {"mode": "upsert", "row_id_cols": ["doc_id"], "order_cols": ["lsn"]}
HISTORY_MOR = {
    "mode": "patch",
    "row_id_cols": ["doc_id", "lsn"],
    "patch_cols": ["valid_to_utc", "is_current"],
}

# Per-(batch, kafka-partition) lineage + metrics (reference
# control.load_metadata / validation_runs; FIXTURES.md §5).
LINEAGE_SCHEMA = StructType(
    [
        StructField("batch_id", LongType()),
        StructField("partition", IntegerType()),
        StructField("rows_in", LongType()),
        StructField("rows_deduped", LongType()),
        StructField("rows_dead_letter", LongType()),
        StructField("min_lsn", LongType()),
        StructField("max_lsn", LongType()),
        StructField("applied_at", TimestampType()),
    ]
)

# Quarantine / dead-letter (reference validator.py:428-449, T9).
DEAD_LETTER_SCHEMA = StructType(
    [
        StructField("batch_id", LongType()),
        StructField("doc_id", StringType()),
        StructField("lsn", LongType()),
        StructField("op", StringType()),
        StructField("raw", StringType()),
        StructField("failure_reason", StringType()),
        StructField("quarantined_at", TimestampType()),
    ]
)


def parse_ddl(ddl: str) -> StructType:
    """Parse a SCHEMA-record payload like ``"source:string"`` into fields."""
    from pyspark.sql.types import _parse_datatype_string

    fields = []
    for part in ddl.split(","):
        name, _, typ = part.strip().partition(":")
        fields.append(StructField(name.strip(), _parse_datatype_string(typ.strip())))
    return StructType(fields)


def stamp_batch_id(batch_id) -> int:
    """Row-level _batch_id / lineage stamp for an epoch key: numeric
    epochs pass through; a non-numeric string epoch (manifest keys
    accept them) stamps a deterministic signed-64 md5 digest instead of
    NULL, so row-level lineage survives string-epoch deployments (the
    commit manifest still stores the original key)."""
    s = str(batch_id)
    if s.lstrip("-").isdigit():
        return int(s)
    import hashlib

    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big", signed=True)
