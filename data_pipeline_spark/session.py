"""SparkSession factory with the engine's required configuration.

Scale posture: these confs are what we would set on a 1000-executor
cluster too — AQE for runtime re-planning + skew-join splitting, Arrow
for all pandas-UDF transport (SURVEY.md §4), UTC session timezone so
results are engine-independent (matches the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _parse_mem_bytes(s: str) -> int:
    """Parse a Spark byteString ('8g', '8gb', '512m', '512mb', plain
    bytes).  Falls back to 8 GiB on anything unparseable — this feeds a
    heuristic threshold, not a correctness path, and Spark itself will
    reject a truly bad spark.driver.memory later with a clear error —
    but warns so a mis-sized agg valve does not go unnoticed."""
    import warnings

    s = s.strip().lower()
    if s.endswith("b") and len(s) > 1 and s[-2] in "kmgt":
        s = s[:-1]
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    mult = units.get(s[-1], 1) if s else 1
    digits = s[:-1] if s and s[-1] in units else s
    try:
        return int(float(digits)) * mult
    except ValueError:
        warnings.warn(
            f"unparseable memory string {s!r} (SPARK_GRAFT_DRIVER_MEM?); "
            "assuming 8g for the aggregation-valve sizing",
            stacklevel=2,
        )
        return 8 << 30


# Estimated per-group aggregation-buffer footprint for the engine's
# widest reduce: one packed row of ~160-192 int32 tokens ≈ 1 KB
# including UnsafeRow overhead, doubled for safety.  NOT more
# pessimistic than that: an oversized estimate shrinks the threshold
# until it trips on the NORMAL workload, and a sort fallback that only
# fires on the larger cluster is an anti-scaling bug (a wide-parallelism
# leg has a smaller per-core heap share, so its threshold is lower —
# if the expected per-task group count lands between the two thresholds
# the big cluster sorts while the small one hashes).
_EST_AGG_ROW_BYTES = 2048


def _agg_fallback_threshold(heap: str, ncores: int) -> int:
    """Max in-flight hash-aggregation groups per task before falling
    back to sort-based aggregation, sized so ncores concurrent tasks'
    aggregation state fits in the execution-memory pool:

        heap × 0.5 (memory.fraction 0.6, storage evictable) / ncores
             / _EST_AGG_ROW_BYTES

    e.g. 8 GB / 2 cores → ~1.0M groups per task; 20 GB / 8 cores →
    ~640k (≈1.3 GB state/task at the 2 KB estimate — the estimate
    already carries 2× headroom).  Clamped to [65536, 4194304]: the
    floor keeps bucket-sized CDC reduces (~100-300k (key,lsn) groups
    per bucket partition) on the hash path even on small heaps, the
    ceiling is the round-1 constant.  On an OOM-prone deployment lower
    SPARK_GRAFT_DRIVER_MEM-per-core and this scales down with it."""
    exec_per_core = _parse_mem_bytes(heap) * 0.5 / max(ncores, 1)
    return max(65536, min(4194304, int(exec_per_core / _EST_AGG_ROW_BYTES)))


def build_session(
    app_name: str = "data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    arrow_max_records: int | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession configured for the engine.

    cpus: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: defaults to cpus so one reduce wave saturates
    the cores without tiny-task overhead at sandbox scale; on a real
    cluster this is sized to keep post-shuffle partitions ~128-256 MB.
    arrow_max_records: spark.sql.execution.arrow.maxRecordsPerBatch —
    the Arrow batch-height cap for pandas-UDF transport.  Set it HERE
    (session-wide by Spark's design) when the workload carries large
    binary payloads (multimodal.extract_features documents the sizing);
    transform builders never mutate it behind the session's back.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        ncores = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 4)

    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    # Ship this package to python workers: foreachBatch / pandas-UDF
    # closures reference the module, so executors must import it.  On a
    # cluster this is `spark-submit --py-files dps.zip` (north_rule);
    # in local mode the workers inherit PYTHONPATH from the driver env.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # max_by/min_by (the LWW + merge reduce) are typed-imperative
        # aggregates → ObjectHashAggregateExec; the default sort-based
        # fallback kicks in at 128 distinct keys per task, silently
        # turning every reduce into a per-partition SORT.  Raise it so
        # the hash path holds for realistic per-task key counts — but
        # size it from the heap, not a constant: each in-flight group
        # buffers a full packed row (token payloads ~1 KB), so the
        # valve must still trip before aggregation state outgrows a
        # task's share of execution memory.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(_agg_fallback_threshold(heap, ncores)),
        )
        .config("spark.sql.parquet.compression.codec", "snappy")
        # co-partitioned joins on a PREFIX of the join keys: a join on
        # [bucket, key, ...] whose sides are already hash-partitioned by
        # bucket alone reuses that partitioning.  Spark 3.3+ defaults
        # this to true, which silently re-shuffles BOTH sides
        # full-width.  The SCD2 apply plans no such join (one bucket
        # exchange and a window), so it does not depend on this.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # file-source partition sizing: at 100 TB this is the knob that
        # keeps scan tasks ~128 MB; harmless at sandbox scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    if arrow_max_records is not None:
        builder = builder.config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
