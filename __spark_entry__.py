"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator family from SURVEY.md §2
through the engine's library code (data_pipeline_spark/*), and
``oracle_sql()`` carries the ANSI-SQL twin DuckDB runs on the same
parquet. Column names and types are aligned on both sides (the driver
hashes values after sorting columns by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

SF_DEFAULT = "/root/testdata/sf0.001"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ----------------------------------------------------------------------
# flagship
# ----------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: last-writer-wins current state over the events change
    log (the CDC engine's core reduce, SURVEY.md W2/C1) at sf0.001."""
    return _q_cdc_lww_current_state(spark, SF_DEFAULT)


# ----------------------------------------------------------------------
# query implementations (Spark side)
# ----------------------------------------------------------------------
def _q_cdc_lww_current_state(spark, sf):
    from data_pipeline_spark.cdc.dedup import lww_reduce

    ev = _load(spark, sf, "events")
    latest = lww_reduce(ev, key_col="user_id", order_col="event_id", salt_buckets=8)
    return latest.select("user_id", "event_id", "event_type", "value")


def _q_dedup_first_arrival(spark, sf):
    from data_pipeline_spark.operators.windows import dedup_first_arrival

    ev = _load(spark, sf, "events")
    first = dedup_first_arrival(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return first.select("user_id", "event_type", "event_id", "ts")


def _q_gap_detection(spark, sf):
    from data_pipeline_spark.operators.windows import detect_sequence_gaps

    ev = _load(spark, sf, "events")
    return detect_sequence_gaps(ev, "user_id", "event_id")


def _q_scd2_intervals(spark, sf):
    from data_pipeline_spark.cdc.scd2 import scd2_close_windowed

    ev = _load(spark, sf, "events").select(
        "user_id", "event_id", F.col("ts").alias("valid_from_utc")
    )
    out = scd2_close_windowed(ev, "user_id", "event_id", "valid_from_utc")
    # emit bounds as formatted strings: the 9999-12-31 sentinel overflows
    # arrow→pandas ns timestamps in downstream comparisons
    fmt = "yyyy-MM-dd HH:mm:ss"
    return out.select(
        "user_id",
        "event_id",
        F.date_format("valid_from_utc", fmt).alias("valid_from"),
        F.date_format("valid_to_utc", fmt).alias("valid_to"),
        "is_current",
    )


def _q_agg_daily_by_type(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def _q_user_profile(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_distinct_event_types(spark, sf):
    return _load(spark, sf, "events").select("event_type").distinct()


def _q_pit_range_join(spark, sf):
    li = _load(spark, sf, "lineitem")
    o = _load(spark, sf, "orders")
    joined = li.join(
        o,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate >= o.o_orderdate),
        "inner",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


def _q_pit_scd2_dim_join(spark, sf):
    """Point-in-time join to an SCD2-style dim with synthetic validity
    windows (trades_enriched.sql:194-197 shape)."""
    from data_pipeline_spark.operators.joins import pit_join

    ev = _load(spark, sf, "events").withColumn(
        "cust_key", (F.col("user_id") % 150 + 1).cast("long")
    )
    dim = (
        _load(spark, sf, "customer")
        .select(
            F.col("c_custkey").alias("cust_key"),
            "c_mktsegment",
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(days=(F.col("c_custkey") % 20).cast("int"))
            ).alias("valid_from_utc"),
            F.lit(None).cast("timestamp").alias("valid_to_utc"),
        )
    )
    j = pit_join(ev, dim, "cust_key", "ts", broadcast_dim=True, how="left")
    return j.groupBy(dim.c_mktsegment.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def _q_anti_join_converted(spark, sf):
    ev = _load(spark, sf, "events")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return signups.join(purchases, "user_id", "left_anti")


def _q_broadcast_enrich(spark, sf):
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "inner")
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _q_union_canonicalize(spark, sf):
    """U1/P3 — two 'feeds' canonicalised then unioned (side-normalisation
    pattern, stg_venue_a_trades.sql:23-29)."""
    ev = _load(spark, sf, "events")
    feed_a = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("id"),
        F.upper(F.col("event_type")).alias("etype"),
        F.col("value").alias("amount"),
        F.lit("feed_a").alias("src"),
    )
    feed_b = ev.filter(~F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("id"),
        F.when(F.upper(F.col("event_type")) == "SIGNUP", "SIGN_UP")
        .otherwise(F.upper(F.col("event_type")))
        .alias("etype"),
        F.col("value").alias("amount"),
        F.lit("feed_b").alias("src"),
    )
    u = feed_a.unionByName(feed_b)
    return u.groupBy("etype", "src").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("amount"), 2).alias("sum_amount"),
    )


def _q_deterministic_ids(spark, sf):
    from data_pipeline_spark.functions.identity import deterministic_id

    o = _load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        deterministic_id(F.lit("orders"), F.col("o_orderkey"), namespace="dps").alias(
            "det_id"
        ),
    )


def _q_surrogate_keys(spark, sf):
    from data_pipeline_spark.functions.identity import surrogate_key_md5

    o = _load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        surrogate_key_md5("o_orderkey", "o_custkey").alias("sk"),
    )


def _q_safe_cast_props(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


def _q_name_normalization(spark, sf):
    from data_pipeline_spark.functions.text import normalize_entity_name

    c = _load(spark, sf, "customer")
    return c.select("c_custkey", normalize_entity_name("c_name").alias("norm_name"))


def _q_load_sequencing(spark, sf):
    ev = _load(spark, sf, "events").withColumn("day", F.to_date("ts"))
    w_asc = Window.partitionBy("user_id", "day").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_desc = Window.partitionBy("user_id", "day").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return ev.select(
        "user_id",
        "day",
        "event_id",
        F.row_number().over(w_asc).cast("long").alias("load_sequence"),
        (F.row_number().over(w_desc) == 1).alias("is_latest_for_day"),
    )


def _q_completeness(spark, sf):
    from data_pipeline_spark.control.completeness import source_completeness

    ev = _load(spark, sf, "events")
    out = source_completeness(ev, "event_type", "ts", "2024-01-01", "2024-01-30", 5)
    return out.select(
        "source", "day", "rows_received", "status",
        F.col("reset_group").cast("long").alias("reset_group"),
        "consecutive_missing",
    )


def _q_exact_dup_docs(spark, sf):
    from data_pipeline_spark.operators.dedupe import exact_duplicates

    d = _load(spark, sf, "documents")
    return exact_duplicates(d, "doc_id", "text")


def _q_minhash_signatures(spark, sf):
    from data_pipeline_spark.operators.dedupe import minhash_signatures

    d = _load(spark, sf, "documents")
    return minhash_signatures(d, "doc_id", "text", num_hashes=8)


def _q_minhash_lsh_candidates(spark, sf):
    from data_pipeline_spark.operators.dedupe import lsh_candidate_pairs

    d = _load(spark, sf, "documents")
    return lsh_candidate_pairs(d, "doc_id", "text", num_hashes=8, band_size=2)


def _q_ngram_jaccard_dups(spark, sf):
    from data_pipeline_spark.operators.dedupe import ngram_jaccard_pairs

    d = _load(spark, sf, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)


def _q_simhash(spark, sf):
    from data_pipeline_spark.operators.dedupe import simhash

    d = _load(spark, sf, "documents")
    return simhash(d, "doc_id", "text", bits=16)


def _q_token_counts(spark, sf):
    from data_pipeline_spark.functions.text import token_count_bpe_ish, token_count_ws

    d = _load(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count_ws("text").cast("long").alias("n_ws_tokens"),
        token_count_bpe_ish("text").cast("long").alias("n_bpe_tokens"),
    )


def _q_quality_scores(spark, sf):
    from data_pipeline_spark.functions.text import quality_metrics

    d = _load(spark, sf, "documents")
    m = quality_metrics("text")
    return d.select(
        "doc_id",
        m["n_chars"].cast("long").alias("n_chars"),
        m["n_words"].cast("long").alias("n_words"),
        m["mean_word_len"].alias("mean_word_len"),
        m["punct_ratio"].alias("punct_ratio"),
        m["stopword_ratio"].alias("stopword_ratio"),
    )


def _q_langid(spark, sf):
    from data_pipeline_spark.functions.text import predict_lang

    d = _load(spark, sf, "documents")
    return d.select("doc_id", predict_lang("text").alias("pred_lang"))


def _q_fingerprints(spark, sf):
    from data_pipeline_spark.functions.text import fingerprint_md5

    d = _load(spark, sf, "documents")
    return d.select("doc_id", fingerprint_md5("text").alias("fingerprint"))


def _q_ann_topk(spark, sf):
    from data_pipeline_spark.operators.similarity import brute_force_topk

    e = _load(spark, sf, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return brute_force_topk(
        e.filter(F.col("vec_id") != 0), "vec_id", "embedding", list(qvec), k=10
    )


def _q_ivf_near_dup_pairs(spark, sf):
    """Self-contained IVF: the coarse partition comes from the engine's
    own deterministic sign-LSH quantizer (no precomputed label column),
    with the degenerate-cluster cap active."""
    from data_pipeline_spark.operators.similarity import ivf_threshold_pairs

    e = _load(spark, sf, "embeddings")
    return ivf_threshold_pairs(
        e, "vec_id", "embedding", threshold=0.25, dim=64, n_planes=4, seed=7
    )


def _q_lsh_ann_topk(spark, sf):
    from data_pipeline_spark.operators.similarity import lsh_ann_topk

    e = _load(spark, sf, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return lsh_ann_topk(
        e.filter(F.col("vec_id") != 0), "vec_id", "embedding", list(qvec), dim=64, k=10
    )


def _q_two_stage_fallback_join(spark, sf):
    """J2 — join by id when present, else by normalised/display name
    (trades_enriched.sql:199-212)."""
    from data_pipeline_spark.operators.joins import two_stage_fallback_join

    ev = _load(spark, sf, "events").select(
        "event_id",
        F.when(F.col("user_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("user_id") % 150 + 1)
        .cast("long")
        .alias("c_custkey"),
        F.format_string(
            "Customer#%09d", (F.col("user_id") % 150 + 1).cast("int")
        ).alias("cust_name"),
    )
    dim = _load(spark, sf, "customer").select("c_custkey", "c_name", "c_mktsegment")
    out = two_stage_fallback_join(
        ev, dim, "c_custkey", ev.cust_name, F.col("c_name"), "c_mktsegment"
    )
    return out.select(
        "event_id", F.col("c_mktsegment_resolved").alias("segment")
    )


def _q_calendar_dim(spark, sf):
    """F8/F9 — date spine + calendar attributes (dim_date.sql:14-77)."""
    from data_pipeline_spark.operators.joins import date_spine

    d = date_spine(spark, "2024-01-01", "2024-03-31")
    return d.select(
        F.col("d").alias("day"),
        F.year("d").cast("long").alias("yr"),
        F.quarter("d").cast("long").alias("qtr"),
        F.month("d").cast("long").alias("mo"),
        F.dayofmonth("d").cast("long").alias("dom"),
        (F.weekday("d") + 1).cast("long").alias("iso_dow"),
        F.weekofyear("d").cast("long").alias("iso_week"),
        (F.weekday("d") >= 5).alias("is_weekend"),
    )


def _q_filename_parse(spark, sf):
    """F10 — regex feed-name / business-date extraction from filenames
    (stg_load_metadata.sql:36-75)."""
    ev = _load(spark, sf, "events").select(
        "event_id",
        F.format_string(
            "%s_%s.csv", F.col("event_type"), F.date_format("ts", "yyyyMMdd")
        ).alias("fname"),
    )
    return ev.select(
        "event_id",
        "fname",
        F.regexp_replace("fname", r"_\d{8}.*\.csv$", "").alias("feed_name"),
        F.to_date(F.regexp_extract("fname", r"_(\d{8})", 1), "yyyyMMdd").alias(
            "business_date"
        ),
    )


def _q_drift_extra_json(spark, sf):
    """F12 — unknown/drift columns serialised to an `_extra` JSON column
    (basic_orchestrator/orchestrator/main.py:164-168), vectorized."""
    ev = _load(spark, sf, "events")
    # ignoreNullFields=false: emit "k":null like the DuckDB twin's
    # to_json(struct_pack(...)) — otherwise the two sides diverge the
    # moment a fixture gains a null drift value.
    return ev.select(
        "event_id",
        F.to_json(
            F.struct("event_type", "user_id"),
            {"ignoreNullFields": "false"},
        ).alias("_extra"),
    )


def _q_safe_math(spark, sf):
    """F14/P4 — safe_divide = a / nullif(b, 0) (macros/shim/strings.sql:8-13)."""
    ev = _load(spark, sf, "events")
    return ev.select(
        "event_id",
        F.round(F.try_divide(F.col("value"), F.pmod("user_id", F.lit(5))), 4).alias(
            "safe_ratio"
        ),
    )


def _q_extract_window(spark, sf):
    """S11 — 7-day rolling extract window relative to the data's max ts
    (surveillance_extract.sql:66, extract.py:39-136)."""
    ev = _load(spark, sf, "events")
    mx = ev.agg(F.max("ts").alias("_mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("_mx") - F.expr("INTERVAL 7 DAYS"))
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _q_sentinel_union(spark, sf):
    """U3 — sentinel row + distinct dimension values (dim_extra.sql:23-41)."""
    ev = _load(spark, sf, "events")
    vals = ev.select(
        F.col("event_type").alias("etype_key"),
        F.upper("event_type").alias("etype"),
    ).distinct()
    sentinel = spark.createDataFrame([("-1", "UNKNOWN")], "etype_key string, etype string")
    return sentinel.unionByName(vals)


def _q_time_bucket_rollup(spark, sf):
    """Hypertable-style time-bucket rollup: tumbling 6h windows
    (streaming windowed agg analogue, run in batch)."""
    ev = _load(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _q_media_features(spark, sf):
    """Multimodal plumbing: binary payloads → mapInPandas feature
    extraction (decode stubbed — see operators/multimodal.py).  The
    stub's feature is a 16-bin byte histogram normalised by n_bytes;
    the query re-scales two bins back to integer byte counts so the
    DuckDB oracle can reproduce them exactly from the UTF-8 text (bins
    0 [0x00-0x0f] and 6 [0x60-0x6f] contain only single-byte UTF-8
    code points, so char counts == byte counts)."""
    from data_pipeline_spark.operators.multimodal import extract_features

    d = _load(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = extract_features(media)
    # feature[j] = count_of_bytes_in_bin_j / n_bytes as float32; the
    # float32 relative error (~1.2e-7) times any realistic count is
    # << 0.5, so round(f * n_bytes) recovers the exact integer count.
    def _bin_count(j: int):
        return (
            F.round(F.element_at("feature", j + 1).cast("double") * F.col("n_bytes"))
            .cast("long")
        )

    return feats.select(
        "media_id",
        "n_bytes",
        _bin_count(0).alias("f0_count"),
        _bin_count(6).alias("f6_count"),
    )


def _q_frame_sampling(spark, sf):
    """Multimodal: video frame-sample plan via sequence/explode
    (operators/multimodal.py sample_frames)."""
    from data_pipeline_spark.operators.multimodal import sample_frames

    d = _load(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        ((F.col("n_chars") % 50 + 1) * 500).cast("long").alias("duration_ms"),
    )
    return sample_frames(media, every_ms=1000)


def _q_payload_hash_audit(spark, sf):
    """F13 — sha256 payload hash for the audit trail
    (regulatory_reporter/main.py:633-636)."""
    ev = _load(spark, sf, "events")
    # null-explicit: concat_ws silently skips NULL operands while SQL's
    # || propagates NULL — coalesce each operand on BOTH sides so the
    # hash is well-defined (and engine-identical) for null fields.
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(""))
        for c in ("event_id", "event_type", "props")
    ]
    return ev.select(
        "event_id",
        F.sha2(F.concat_ws("|", *parts), 256).alias("payload_sha256"),
    )


def _q_date_time_keys(spark, sf):
    """F6 — integer date/time dimension keys from a timestamp
    (cross_db/date_key_from_ts.sql:16-21, time_key_from_ts.sql,
    millis_from_ts.sql)."""
    ev = _load(spark, sf, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyyMMdd").cast("long").alias("date_key"),
        F.date_format("ts", "HHmmss").cast("long").alias("time_key"),
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) % 1_000_000 / 1000)
        .cast("long")
        .alias("millis"),
    )


def _q_rules_quarantine(spark, sf):
    from data_pipeline_spark.sources.rules import Rule, apply_rules

    ev = _load(spark, sf, "events")
    rules = [
        Rule("value > 50", "error", "value_gt_50"),
        Rule("event_type in ('click', 'view', 'purchase', 'signup', 'error')", "error", "etype_allowed"),
        Rule("user_id is not null", "error", "user_not_null"),
        Rule("value > 190", "warning", "value_gt_190"),
    ]
    valid, quarantined, warnings = apply_rules(ev, rules)
    return quarantined.select("event_id", "failure_reasons")


# ----------------------------------------------------------------------
# Control jobs (control/jobs.py) exercised over a lineage-shaped frame
# derived from the events table, so the driver's oracle can verify the
# exact same transforms that ControlRunner persists per epoch.
# ----------------------------------------------------------------------

def _q_dedup_groups(spark, sf):
    """Near-dup pair list → connected components with min-id canonical
    labels (keep-one dedup groups).  Pairs come from the exact n-gram
    Jaccard verifier; components via iterative min-label propagation
    (operators/dedupe.py dedup_components)."""
    from data_pipeline_spark.operators.dedupe import (
        dedup_components,
        ngram_jaccard_pairs,
    )

    d = _load(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)
    comp = dedup_components(pairs.select("id_a", "id_b"))
    return comp.select(F.col("id").alias("doc_id"), "component")


def _q_dedup_groups_star(spark, sf):
    """Same dedup-group labelling via the large-star/small-star
    formulation (Kiveris et al. SoCC'14) — O(log n) rounds regardless
    of component diameter, the variant a 10^10-doc corpus with
    chain-shaped dup clusters needs.  Must agree label-for-label with
    the propagation default (and does: the oracle is the identical
    recursive-CTE transitive closure)."""
    from data_pipeline_spark.operators.dedupe import (
        dedup_components,
        ngram_jaccard_pairs,
    )

    d = _load(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)
    comp = dedup_components(pairs.select("id_a", "id_b"), algorithm="star")
    return comp.select(F.col("id").alias("doc_id"), "component")


def _lineage_like(spark, sf):
    """events → per-(partition, batch) lineage spans: partition = a
    synthetic kafka partition, batch = fixed-width lsn range."""
    ev = _load(spark, sf, "events")
    return ev.groupBy(
        (F.col("user_id") % 4).cast("long").alias("partition"),
        F.floor(F.col("event_id") / 2500).cast("long").alias("batch_id"),
    ).agg(
        F.min("event_id").alias("min_lsn"),
        F.max("event_id").alias("max_lsn"),
        F.count(F.lit(1)).cast("long").alias("rows_in"),
        F.max("ts").alias("applied_at"),
    )


def _q_lineage_gap_check(spark, sf):
    """Control job T8: lsn-continuity gaps per partition over lineage
    spans (streaming_sequence_gaps.sql:20-70 recast over batch spans)."""
    from data_pipeline_spark.control.jobs import lineage_sequence_gaps

    return lineage_sequence_gaps(_lineage_like(spark, sf))


def _q_batch_completeness(spark, sf):
    """Control job: partition × batch-spine arrival check with
    consecutive-missing streaks (source_completeness.sql:49-106).  One
    (partition, batch) cell is planted missing to exercise MISSING."""
    from data_pipeline_spark.control.jobs import batch_completeness

    lin = _lineage_like(spark, sf).filter(
        ~((F.col("partition") == 3) & (F.col("batch_id") == 1))
    )
    return batch_completeness(lin).select(
        "partition",
        "batch_id",
        "rows_in",
        "status",
        F.col("reset_group").cast("long").alias("reset_group"),
        "consecutive_missing",
    )


def _q_freshness_check(spark, sf):
    """Control job: per-partition applied_at lag vs warn/error
    thresholds (dbt source freshness, docs/testing.md:131-147)."""
    from data_pipeline_spark.control.jobs import freshness_check

    return freshness_check(
        _lineage_like(spark, sf),
        now="2024-02-01 00:00:00",
        warn_after_seconds=24 * 3600,
        error_after_seconds=72 * 3600,
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cdc_lww_current_state": _q_cdc_lww_current_state,
    "dedup_first_arrival": _q_dedup_first_arrival,
    "gap_detection": _q_gap_detection,
    "scd2_intervals": _q_scd2_intervals,
    "agg_daily_by_type": _q_agg_daily_by_type,
    "user_profile": _q_user_profile,
    "distinct_event_types": _q_distinct_event_types,
    "pit_range_join": _q_pit_range_join,
    "pit_scd2_dim_join": _q_pit_scd2_dim_join,
    "anti_join_converted": _q_anti_join_converted,
    "broadcast_enrich": _q_broadcast_enrich,
    "union_canonicalize": _q_union_canonicalize,
    "deterministic_ids": _q_deterministic_ids,
    "surrogate_keys": _q_surrogate_keys,
    "safe_cast_props": _q_safe_cast_props,
    "name_normalization": _q_name_normalization,
    "load_sequencing": _q_load_sequencing,
    "completeness": _q_completeness,
    "exact_dup_docs": _q_exact_dup_docs,
    "minhash_signatures": _q_minhash_signatures,
    "minhash_lsh_candidates": _q_minhash_lsh_candidates,
    "ngram_jaccard_dups": _q_ngram_jaccard_dups,
    "simhash": _q_simhash,
    "token_counts": _q_token_counts,
    "quality_scores": _q_quality_scores,
    "langid": _q_langid,
    "fingerprints": _q_fingerprints,
    "ann_topk": _q_ann_topk,
    "ivf_near_dup_pairs": _q_ivf_near_dup_pairs,
    "lsh_ann_topk": _q_lsh_ann_topk,
    "rules_quarantine": _q_rules_quarantine,
    "two_stage_fallback_join": _q_two_stage_fallback_join,
    "calendar_dim": _q_calendar_dim,
    "filename_parse": _q_filename_parse,
    "drift_extra_json": _q_drift_extra_json,
    "safe_math": _q_safe_math,
    "extract_window": _q_extract_window,
    "sentinel_union": _q_sentinel_union,
    "time_bucket_rollup": _q_time_bucket_rollup,
    "media_features": _q_media_features,
    "frame_sampling": _q_frame_sampling,
    "payload_hash_audit": _q_payload_hash_audit,
    "date_time_keys": _q_date_time_keys,
    "dedup_groups": _q_dedup_groups,
    "dedup_groups_star": _q_dedup_groups_star,
    "lineage_gap_check": _q_lineage_gap_check,
    "batch_completeness": _q_batch_completeness,
    "freshness_check": _q_freshness_check,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# ----------------------------------------------------------------------
# DuckDB oracle SQL
# ----------------------------------------------------------------------
_H15 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

_SHINGLES_CTE = f"""
d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
w AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM d),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(CASE WHEN len(ws) >= 3
                       THEN list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                       ELSE [norm] END) AS shingle
    FROM w
)
"""


def _minhash_aggs(num_hashes: int) -> str:
    # two 15-hex windows per md5 digest — mirrors operators/dedupe.py
    return ", ".join(
        "min(CAST(('0x' || substr(md5('{fam}:' || shingle), {off}, 15)) AS BIGINT))"
        " AS sig_{k}".format(fam=k // 2, off=1 + 15 * (k % 2), k=k)
        for k in range(num_hashes)
    )


def _minhash_sql(num_hashes: int) -> str:
    return (
        f"WITH {_SHINGLES_CTE} "
        f"SELECT doc_id, {_minhash_aggs(num_hashes)} FROM sh GROUP BY doc_id"
    )


def _lsh_sql(num_hashes: int, band_size: int) -> str:
    n_bands = num_hashes // band_size
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5(".format(b=b)
        + " || ',' || ".join(
            f"CAST(sig_{b * band_size + j} AS VARCHAR)" for j in range(band_size)
        )
        + ") AS band_key FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc_id, {_minhash_aggs(num_hashes)} FROM sh GROUP BY doc_id),
raw_bands AS ({band_rows}),
-- the operator's max_bucket skew guard (default 1000 docs per bucket)
kept AS (SELECT band_idx, band_key FROM raw_bands
         GROUP BY band_idx, band_key HAVING count(*) <= 1000),
bands AS (SELECT r.* FROM raw_bands r
          JOIN kept k ON r.band_idx = k.band_idx AND r.band_key = k.band_key)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def _simhash_sql(bits: int) -> str:
    h = _H15.format(x="w")
    bit_terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
words AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM d),
hashed AS (SELECT doc_id, {h} AS h FROM words)
SELECT doc_id, {bit_terms} AS simhash FROM hashed GROUP BY doc_id
"""


_EN_SW = "the|and|of|to|in|is|that|it|for|with"
_LANG_COUNT = {
    "de": "der|die|und|das|ist|von|mit|den|ein|zu",
    "en": _EN_SW,
    "es": "el|la|de|que|y|en|un|es|se|no",
    "fr": "le|la|de|et|un|est|que|pour|dans|ce",
}


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["cdc_lww_current_state"] = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""

    sql["dedup_first_arrival"] = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts ASC, event_id ASC) AS rn
  FROM events) WHERE rn = 1
"""

    sql["gap_detection"] = """
WITH lagged AS (
  SELECT user_id AS partition, event_id AS cur,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
  FROM events)
SELECT partition, prev + 1 AS gap_start, cur - 1 AS gap_end,
       cur - prev - 1 AS gap_size,
       CASE WHEN cur - prev - 1 <= 10 THEN 'LOW'
            WHEN cur - prev - 1 <= 100 THEN 'MEDIUM'
            WHEN cur - prev - 1 <= 1000 THEN 'HIGH'
            ELSE 'CRITICAL' END AS severity
FROM lagged WHERE prev IS NOT NULL AND cur - prev > 1
"""

    sql["scd2_intervals"] = """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY event_id)
                         - INTERVAL 1 SECOND,
                         TIMESTAMP '9999-12-31 23:59:59'),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL AS is_current
FROM events
"""

    sql["agg_daily_by_type"] = """
SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
       round(sum(value), 2) AS sum_value, min(ts) AS min_ts, max(ts) AS max_ts
FROM events GROUP BY 1, 2
"""

    sql["user_profile"] = """
SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen, count(*) AS n_events
FROM events GROUP BY 1
"""

    sql["distinct_event_types"] = "SELECT DISTINCT event_type FROM events"

    sql["pit_range_join"] = """
SELECT o_orderpriority, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate
GROUP BY 1
"""

    sql["pit_scd2_dim_join"] = """
WITH ev AS (SELECT *, CAST(user_id % 150 + 1 AS BIGINT) AS cust_key FROM events),
dim AS (SELECT c_custkey AS cust_key, c_mktsegment,
               TIMESTAMP '2024-01-01 00:00:00'
                 + to_days(CAST(c_custkey % 20 AS INT)) AS valid_from_utc,
               CAST(NULL AS TIMESTAMP) AS valid_to_utc
        FROM customer)
SELECT dim.c_mktsegment AS segment, count(*) AS n_events
FROM ev LEFT JOIN dim
  ON ev.cust_key = dim.cust_key AND ev.ts >= dim.valid_from_utc
     AND (dim.valid_to_utc IS NULL OR ev.ts < dim.valid_to_utc)
GROUP BY 1
"""

    sql["anti_join_converted"] = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
  AND user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'purchase')
"""

    sql["broadcast_enrich"] = """
SELECT p_brand, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1
"""

    sql["union_canonicalize"] = """
WITH u AS (
  SELECT event_id AS id, upper(event_type) AS etype, value AS amount,
         'feed_a' AS src
  FROM events WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT event_id, CASE WHEN upper(event_type) = 'SIGNUP' THEN 'SIGN_UP'
                        ELSE upper(event_type) END,
         value, 'feed_b'
  FROM events WHERE event_type NOT IN ('click', 'view'))
SELECT etype, src, count(*) AS n, round(sum(amount), 2) AS sum_amount
FROM u GROUP BY 1, 2
"""

    sql["deterministic_ids"] = """
SELECT o_orderkey,
       md5('dps' || ':' || 'orders' || ':' || CAST(o_orderkey AS VARCHAR)) AS det_id
FROM orders
"""

    sql["surrogate_keys"] = f"""
SELECT o_orderkey,
       {_H15.format(x="CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)")} AS sk
FROM orders
"""

    sql["safe_cast_props"] = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
"""

    sql["name_normalization"] = r"""
SELECT c_custkey,
       regexp_replace(
         regexp_replace(upper(trim(c_name)),
                        '\s+(LTD|LIMITED|PLC|LLC|INC|CORP|CO|COMPANY|GMBH|SA|AG)\.?$', ''),
         '\s+', ' ', 'g') AS norm_name
FROM customer
"""

    sql["load_sequencing"] = """
SELECT user_id, CAST(ts AS DATE) AS day, event_id,
       row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                          ORDER BY ts ASC, event_id ASC) AS load_sequence,
       row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                          ORDER BY ts DESC, event_id DESC) = 1 AS is_latest_for_day
FROM events
"""

    sql["completeness"] = """
WITH per_day AS (
  SELECT event_type AS source, CAST(ts AS DATE) AS day, count(*) AS rows_received
  FROM events GROUP BY 1, 2),
spine AS (
  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                INTERVAL 1 DAY))::DATE AS day),
expected AS (
  SELECT s.source, sp.day FROM (SELECT DISTINCT source FROM per_day) s
  CROSS JOIN spine sp),
joined AS (
  SELECT e.source, e.day, coalesce(p.rows_received, 0) AS rows_received
  FROM expected e LEFT JOIN per_day p ON e.source = p.source AND e.day = p.day),
status AS (
  SELECT *, CASE WHEN rows_received = 0 THEN 'MISSING'
                 WHEN rows_received < 5 THEN 'PARTIAL'
                 ELSE 'COMPLETE' END AS status,
         CASE WHEN rows_received = 0 THEN 1 ELSE 0 END AS is_missing
  FROM joined),
reset AS (
  SELECT *, sum(CASE WHEN is_missing = 0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY source ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reset_group
  FROM status)
SELECT source, day, rows_received, status,
       CAST(reset_group AS BIGINT) AS reset_group,
       CAST(row_number() OVER (PARTITION BY source, reset_group ORDER BY day) - 1
            AS BIGINT) AS consecutive_missing
FROM reset
"""

    sql["exact_dup_docs"] = f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents)
SELECT fingerprint, min(doc_id) AS canonical_id, count(*) AS n_docs
FROM fp GROUP BY 1 HAVING count(*) > 1
"""

    sql["minhash_signatures"] = _minhash_sql(8)
    sql["minhash_lsh_candidates"] = _lsh_sql(8, 2)
    sql["simhash"] = _simhash_sql(16)

    # shc = shingle set after the df-cap (max_doc_freq=100000), the
    # SAME cap the Spark operator applies by default — keeping both
    # sides capped so a boilerplate-heavy corpus cannot diverge them
    _CAPPED_SH = """
shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= 100000) keep USING (shingle))
"""

    sql["ngram_jaccard_dups"] = f"""
WITH {_SHINGLES_CTE}, {_CAPPED_SH},
sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(ni / (x.n + y.n - ni), 4) AS jaccard
FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
WHERE round(ni / (x.n + y.n - ni), 4) >= 0.5
"""

    sql["token_counts"] = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens
FROM documents
"""

    sql["quality_scores"] = rf"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b({_EN_SW})\b')) AS n_stop
  FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_words AS BIGINT) AS n_words,
       round(n_chars / greatest(n_words, 1), 4) AS mean_word_len,
       round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
       round(n_stop / greatest(n_words, 1), 4) AS stopword_ratio
FROM base
"""

    lang_counts = ", ".join(
        rf"len(regexp_extract_all(lower(text), '\b({pat})\b')) AS c_{lang}"
        for lang, pat in _LANG_COUNT.items()
    )
    sql["langid"] = f"""
WITH scores AS (SELECT doc_id, {lang_counts} FROM documents)
SELECT doc_id,
       CASE WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
            WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
            WHEN c_es >= c_fr THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM scores
"""

    sql["fingerprints"] = f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents"

    sql["ann_topk"] = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 4) AS cos_sim
FROM embeddings, q WHERE vec_id != 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""

    # ivf_near_dup_pairs: the coarse cluster is the engine's sign-LSH
    # quantizer (4 md5-derived planes, seed 7) — inlined as literal
    # DOUBLE[] arrays exactly like the lsh_ann_topk oracle below.
    from data_pipeline_spark.operators.similarity import _hyperplane as _hp

    ivf_bucket_terms = " + ".join(
        "(CASE WHEN list_inner_product(v, ["
        + ", ".join(repr(x) for x in _hp(7, j, 64))
        + f"]) > 0 THEN {2**j} ELSE 0 END)"
        for j in range(4)
    )
    sql["ivf_near_dup_pairs"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {ivf_bucket_terms} AS c FROM e)
SELECT a.vec_id AS id_a, x.vec_id AS id_b,
       round(list_cosine_similarity(a.v, x.v), 4) AS cos_sim
FROM b a JOIN b x ON a.c = x.c AND a.vec_id < x.vec_id
WHERE round(list_cosine_similarity(a.v, x.v), 4) >= 0.25
"""

    sql["rules_quarantine"] = """
SELECT event_id,
       concat_ws(';',
         CASE WHEN NOT coalesce(value > 50, FALSE) THEN 'value_gt_50' END,
         CASE WHEN NOT coalesce(event_type IN ('click','view','purchase','signup','error'), FALSE)
              THEN 'etype_allowed' END,
         CASE WHEN NOT coalesce(user_id IS NOT NULL, FALSE) THEN 'user_not_null' END
       ) AS failure_reasons
FROM events
WHERE NOT coalesce(value > 50, FALSE)
   OR NOT coalesce(event_type IN ('click','view','purchase','signup','error'), FALSE)
   OR NOT coalesce(user_id IS NOT NULL, FALSE)
"""

    sql["two_stage_fallback_join"] = """
WITH f AS (
  SELECT event_id,
         CASE WHEN user_id % 7 = 0 THEN NULL
              ELSE CAST(user_id % 150 + 1 AS BIGINT) END AS cust_id,
         printf('Customer#%09d', CAST(user_id % 150 + 1 AS INT)) AS cust_name
  FROM events),
by_id AS (
  SELECT f.event_id, f.cust_id, f.cust_name, c.c_mktsegment AS v_id
  FROM f LEFT JOIN customer c
    ON f.cust_id IS NOT NULL AND f.cust_id = c.c_custkey),
resolved AS (
  SELECT b.event_id, coalesce(b.v_id, c2.c_mktsegment) AS segment
  FROM by_id b LEFT JOIN customer c2
    ON b.cust_id IS NULL AND b.cust_name = c2.c_name)
SELECT event_id, segment FROM resolved
"""

    sql["calendar_dim"] = """
WITH spine AS (
  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31',
                                INTERVAL 1 DAY))::DATE AS day)
SELECT day, CAST(year(day) AS BIGINT) AS yr, CAST(quarter(day) AS BIGINT) AS qtr,
       CAST(month(day) AS BIGINT) AS mo, CAST(day(day) AS BIGINT) AS dom,
       CAST(isodow(day) AS BIGINT) AS iso_dow,
       CAST(weekofyear(day) AS BIGINT) AS iso_week,
       isodow(day) >= 6 AS is_weekend
FROM spine
"""

    sql["filename_parse"] = r"""
WITH f AS (
  SELECT event_id, event_type || '_' || strftime(ts, '%Y%m%d') || '.csv' AS fname
  FROM events)
SELECT event_id, fname,
       regexp_replace(fname, '_\d{8}.*\.csv$', '') AS feed_name,
       strptime(regexp_extract(fname, '_(\d{8})', 1), '%Y%m%d')::DATE AS business_date
FROM f
"""

    sql["drift_extra_json"] = """
SELECT event_id,
       CAST(to_json(struct_pack(event_type := event_type, user_id := user_id))
            AS VARCHAR) AS _extra
FROM events
"""

    sql["safe_math"] = """
SELECT event_id, round(value / nullif(user_id % 5, 0), 4) AS safe_ratio
FROM events
"""

    sql["extract_window"] = """
SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
GROUP BY 1, 2
"""

    sql["sentinel_union"] = """
SELECT '-1' AS etype_key, 'UNKNOWN' AS etype
UNION ALL
SELECT DISTINCT event_type, upper(event_type) FROM events
"""

    sql["time_bucket_rollup"] = """
SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""

    sql["frame_sampling"] = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       unnest(generate_series(0, (n_chars % 50 + 1) * 500 - 1, 1000)) AS frame_ts_ms
FROM documents
"""

    sql["payload_hash_audit"] = """
SELECT event_id,
       sha256(coalesce(CAST(event_id AS VARCHAR), '') || '|' ||
              coalesce(event_type, '') || '|' || coalesce(props, ''))
         AS payload_sha256
FROM events
"""

    sql["date_time_keys"] = """
SELECT event_id,
       CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS date_key,
       CAST(strftime(ts, '%H%M%S') AS BIGINT) AS time_key,
       CAST(epoch_us(ts) % 1000000 // 1000 AS BIGINT) AS millis
FROM events
"""

    # dedup_groups: transitive closure by recursive CTE — label
    # propagation along the symmetric near-dup edges, min label per
    # node == min id in the connected component (the Spark operator's
    # fixpoint answer, engine-independent).
    sql["dedup_groups"] = f"""
WITH RECURSIVE {_SHINGLES_CTE},
shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= 100000) keep USING (shingle)),
sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
  WHERE round(ni / (x.n + y.n - ni), 4) >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src)
SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id
"""
    # the star variant must land on the identical fixpoint labelling —
    # same oracle, independently computed transitive closure
    sql["dedup_groups_star"] = sql["dedup_groups"]

    _LINEAGE_CTE = """
lin AS (
  SELECT CAST(user_id % 4 AS BIGINT) AS partition,
         CAST(event_id // 2500 AS BIGINT) AS batch_id,
         min(event_id) AS min_lsn, max(event_id) AS max_lsn,
         count(*) AS rows_in, max(ts) AS applied_at
  FROM events GROUP BY 1, 2)
"""

    sql["lineage_gap_check"] = f"""
WITH {_LINEAGE_CTE},
g AS (
  SELECT partition, min_lsn,
         lag(max_lsn) OVER (PARTITION BY partition ORDER BY batch_id) AS prev_end
  FROM lin)
SELECT partition, prev_end + 1 AS gap_start, min_lsn - 1 AS gap_end,
       min_lsn - prev_end - 1 AS gap_size,
       CASE WHEN min_lsn - prev_end - 1 <= 10 THEN 'LOW'
            WHEN min_lsn - prev_end - 1 <= 100 THEN 'MEDIUM'
            WHEN min_lsn - prev_end - 1 <= 1000 THEN 'HIGH'
            ELSE 'CRITICAL' END AS severity
FROM g WHERE prev_end IS NOT NULL AND min_lsn - prev_end - 1 > 0
"""

    sql["batch_completeness"] = f"""
WITH {_LINEAGE_CTE},
lin2 AS (SELECT * FROM lin WHERE NOT (partition = 3 AND batch_id = 1)),
per AS (SELECT partition, batch_id, sum(rows_in) AS rows_in
        FROM lin2 GROUP BY 1, 2),
expected AS (
  SELECT p.partition, b.batch_id
  FROM (SELECT DISTINCT partition FROM per) p
  CROSS JOIN (SELECT DISTINCT batch_id FROM per) b),
joined AS (
  SELECT e.partition, e.batch_id, coalesce(per.rows_in, 0) AS rows_in
  FROM expected e LEFT JOIN per
    ON e.partition = per.partition AND e.batch_id = per.batch_id),
status AS (
  SELECT *, CASE WHEN rows_in = 0 THEN 'MISSING' ELSE 'COMPLETE' END AS status,
         CASE WHEN rows_in = 0 THEN 1 ELSE 0 END AS is_missing
  FROM joined),
reset AS (
  SELECT *, sum(CASE WHEN is_missing = 0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY partition ORDER BY batch_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reset_group
  FROM status)
SELECT partition, batch_id, CAST(rows_in AS BIGINT) AS rows_in, status,
       CAST(reset_group AS BIGINT) AS reset_group,
       CAST(row_number() OVER (PARTITION BY partition, reset_group
                               ORDER BY batch_id) - 1 AS BIGINT)
         AS consecutive_missing
FROM reset
"""

    sql["freshness_check"] = f"""
WITH {_LINEAGE_CTE},
agg AS (SELECT partition, max(applied_at) AS last_applied_at
        FROM lin GROUP BY 1)
SELECT partition, last_applied_at,
       CAST(date_diff('second', last_applied_at,
                      TIMESTAMP '2024-02-01 00:00:00') AS BIGINT) AS lag_seconds,
       CASE WHEN date_diff('second', last_applied_at,
                           TIMESTAMP '2024-02-01 00:00:00') >= 72 * 3600
              THEN 'ERROR'
            WHEN date_diff('second', last_applied_at,
                           TIMESTAMP '2024-02-01 00:00:00') >= 24 * 3600
              THEN 'WARN'
            ELSE 'OK' END AS status
FROM agg
"""

    # lsh_ann_topk: the hyperplanes are deterministic md5-derived
    # constants (operators/similarity.py _hyperplane), so the oracle
    # inlines them as literal DOUBLE[] arrays and reproduces bucket +
    # cosine exactly — both the query vector's bucket and every data
    # vector's bucket are computed inside SQL with the same planes.
    from data_pipeline_spark.operators.similarity import _hyperplane

    n_planes, dim, seed = 8, 64, 42
    bucket_terms = " + ".join(
        "(CASE WHEN list_inner_product(v, ["
        + ", ".join(repr(x) for x in _hyperplane(seed, j, dim))
        + f"]) > 0 THEN {2**j} ELSE 0 END)"
        for j in range(n_planes)
    )
    sql["lsh_ann_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 4) AS cos_sim
FROM b, q WHERE b.vec_id != 0 AND b.bucket = q.qb
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""

    # media_features: bins 0 and 6 of the stub's byte histogram cover
    # byte ranges that only single-byte UTF-8 code points occupy, so a
    # character-class regexp over the text counts exactly those bytes;
    # strlen() is DuckDB's byte length.
    sql["media_features"] = r"""
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(len(regexp_extract_all(text, '[\x00-\x0f]')) AS BIGINT) AS f0_count,
       CAST(len(regexp_extract_all(text, '[\x60-\x6f]')) AS BIGINT) AS f6_count
FROM documents
"""
    return sql
