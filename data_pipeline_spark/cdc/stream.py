"""Streaming replay: change-log tail → foreachBatch → CdcPipeline.

In production the source is Kafka (`spark.readStream.format("kafka")`,
SURVEY.md S8/T6) — the sandbox has no Kafka broker or connector jar, so
the log tail is a **file stream source** over the chunked parquet log
(each file ≈ one producer segment).  The two sources share the exact
contract that matters: checkpointed offsets, ordered micro-batches with
stable batch_ids, and replay of the in-flight batch after a crash —
which is what the exactly-once commit manifest is tested against.

``run_stream`` uses Trigger.AvailableNow (drain the backlog then stop);
``maxFilesPerTrigger`` bounds batch size (the reference bridge's
backpressure knob, bridge.py:55-58 ≈ maxOffsetsPerTrigger).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import CdcPipeline
from .schema import CHANGE_EVENT_SCHEMA


# ----------------------------------------------------------------------
# Kafka source path (SURVEY.md S8; reference bridge.py:191-263 + docs/
# streaming.md:41-52).  The sandbox has no broker or spark-sql-kafka
# jar, so `kafka_source` cannot be exercised end-to-end here — but the
# value-decode contract (the part with actual logic) is a plain
# DataFrame transform, unit-tested on literal Kafka-shaped rows.
# ----------------------------------------------------------------------

def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """Options for ``readStream.format("kafka")``.

    maxOffsetsPerTrigger is the backpressure knob (the reference
    bridge's buffer high-water, bridge.py:55-58): it bounds a
    micro-batch by log offsets exactly like maxFilesPerTrigger bounds
    the file-stream stand-in by segments.
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


#: Kafka's record shape as Spark surfaces it — what a
#: ``readStream.format("kafka")`` frame contains, and the shape
#: ``encode_kafka_value`` produces for a Kafka SINK (writeStream needs
#: binary key/value).  Also lets the sandbox drive ``decode_kafka_value``
#: inside a REAL streaming query over a file stream of wire-shaped
#: records (tests/test_kafka_source.py) despite having no broker.
KAFKA_RECORD_SCHEMA = "key binary, value binary, topic string, partition int, offset long, timestamp timestamp, timestampType int"


def encode_kafka_value(events: DataFrame, topic: str = "cdc.docs") -> DataFrame:
    """CHANGE_EVENT_SCHEMA → Kafka wire shape (the producer/bridge side
    of the contract; reference bridge.py:246-253 publishes
    ``json.dumps(value)``).  key = doc_id bytes (keeps a doc's events in
    one Kafka partition → per-key ordering); value = JSON payload;
    offset/timestamp mirror lsn/ingest_ts the way the reference stamps
    them.  ``decode_kafka_value(encode_kafka_value(df))`` is identity on
    every CHANGE_EVENT_SCHEMA frame (round-trip pinned by test)."""
    return events.select(
        F.col("doc_id").cast("binary").alias("key"),
        F.to_json(
            F.struct(
                "doc_id", "lsn", "op", "tokens", "n_tok",
                "source", "ddl", "partition", "ingest_ts",
            )
        ).cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.col("partition").cast("int").alias("partition"),
        F.col("lsn").cast("long").alias("offset"),
        F.col("ingest_ts").cast("timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def decode_kafka_value(raw: DataFrame) -> DataFrame:
    """Kafka record frame (binary key/value, topic, partition, offset,
    timestamp) → CHANGE_EVENT_SCHEMA.

    The change event travels as a JSON value (the reference bridge
    publishes `json.dumps(kafka_value)`, bridge.py:246-253); schema-on-
    read via from_json — a malformed value yields NULL struct fields
    and the pipeline's validation split quarantines the row (T9)
    instead of killing the stream (the bridge's decode_errors path,
    bridge.py:216-236).  Kafka's own metadata backfills what the
    payload omits, mirroring the bridge's `_kafka_partition` /
    `_kafka_offset` / `_kafka_timestamp` stamping (bridge.py:241-245):

      lsn       ← payload.lsn        else kafka offset
      partition ← payload.partition  else kafka partition
      ingest_ts ← payload.ingest_ts  else kafka record timestamp
    """
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), CHANGE_EVENT_SCHEMA).alias("e"),
        F.col("partition").cast("int").alias("_kpart"),
        F.col("offset").cast("long").alias("_koff"),
        F.col("timestamp").cast("timestamp").alias("_kts"),
    )
    return parsed.select(
        F.col("e.doc_id").alias("doc_id"),
        F.coalesce(F.col("e.lsn"), F.col("_koff")).alias("lsn"),
        F.col("e.op").alias("op"),
        F.col("e.tokens").alias("tokens"),
        F.col("e.n_tok").alias("n_tok"),
        F.col("e.source").alias("source"),
        F.col("e.ddl").alias("ddl"),
        F.coalesce(F.col("e.partition"), F.col("_kpart")).alias("partition"),
        F.coalesce(F.col("e.ingest_ts"), F.col("_kts")).alias("ingest_ts"),
    )


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
) -> DataFrame:
    """Streaming CHANGE_EVENT_SCHEMA source from a Kafka topic.

    Drop-in replacement for the file-stream stand-in: the decoded frame
    feeds the same foreachBatch → CdcPipeline path (checkpointed
    offsets, exactly-once via commit manifests).  Requires the
    spark-sql-kafka connector on the classpath (spark-submit
    --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers,
        topic,
        starting_offsets,
        max_offsets_per_trigger,
        fail_on_data_loss,
    ).items():
        reader = reader.option(k, v)
    return decode_kafka_value(reader.load())


def dedup_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...] = ("doc_id", "lsn"),
    ts_col: str = "ingest_ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming-state dedup for a continuous-trigger deployment
    (SURVEY.md T2 latency/cost polish; reference analogue: the
    bridge's in-memory message dedup window).

    The batch path does NOT need this for correctness — at-least-once
    duplicate deliveries collapse inside the merge's max_by reduce and
    the history apply's reduces — but in a long-running continuous
    query, dropping re-deliveries BEFORE foreachBatch saves the whole
    downstream apply for pure-duplicate triggers.

    `dropDuplicatesWithinWatermark` keeps per-key state ONLY until the
    watermark passes (bounded state, unlike plain dropDuplicates whose
    state grows with every key ever seen — unusable on an unbounded
    change log).  A duplicate arriving later than `delay` after the
    original is NOT dropped here; it lands in a batch and collapses in
    the merge reduce as before — the two layers compose.
    """
    return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_stream(
    spark: SparkSession,
    log_dir: str,
    pipeline: CdcPipeline,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
) -> int:
    """Replay the log through Structured Streaming; returns batches run.

    A failing batch stops the query and the error propagates; restarting
    with the same checkpoint_dir resumes from the first uncommitted
    batch (re-delivering an in-flight one is idempotent under the
    manifests).
    """
    n_batches = {"n": 0}

    def _apply(df, batch_id: int):
        pipeline.apply_batch(df, batch_id)
        n_batches["n"] += 1

    reader = (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(log_dir)
    )
    q = (
        reader.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    return n_batches["n"]


def replay_batches(
    spark: SparkSession,
    log_dir: str,
    pipeline: CdcPipeline,
    files_per_batch: int = 2,
    start_batch_id: int = 0,
) -> int:
    """Batch-mode replay (no streaming machinery): group the log files
    into deterministic epochs and apply each through the same pipeline.
    Identical semantics to ``run_stream``, minus the checkpoint; the
    tests use it to pick batch boundaries and batch ids directly."""
    files = sorted(glob.glob(os.path.join(log_dir, "*.parquet")))
    batch_id = start_batch_id
    for i in range(0, len(files), files_per_batch):
        chunk = files[i : i + files_per_batch]
        df = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*chunk)
        pipeline.apply_batch(df, batch_id)
        batch_id += 1
    return batch_id - start_batch_id
