"""Physical-plan audits — the plan IS the product at 100 TB.

These tests pin the optimizer properties the engine's scale story
depends on: parquet filter pushdown + column pruning, broadcast hash
joins for dimension enrichment, and the single-exchange merge shape
(groupBy(bucket, key) reusing the repartition-by-bucket exchange so a
MERGE costs one wide shuffle, see cdc/merge.py).
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _events(spark):
    return spark.read.parquet(os.path.join(SF, "events.parquet"))


def test_filter_pushdown_reaches_scan(spark):
    df = _events(spark).filter(F.col("event_type") == "click").select("event_id")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "EqualTo(event_type,click)" in plan


def test_column_pruning_reaches_scan(spark):
    df = _events(spark).select("event_id", "user_id")
    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"event_id", "user_id"}, f"scan reads extra columns: {cols}"


def test_dim_join_is_broadcast(spark):
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(SF, "part.parquet"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).groupBy("p_brand").count()
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_shape_single_exchange(spark, tmp_path):
    """The union + repartition(bucket) + groupBy(bucket, key) merge must
    produce exactly ONE exchange: hash partitioning on a subset of the
    grouping keys satisfies the aggregation's distribution."""
    from data_pipeline_spark.table.laketable import BUCKET_COL, bucket_expr

    t = spark.range(1000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").alias("lsn"),
        F.lit("T").alias("op"),
    )
    d = spark.range(100).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") + 5000).alias("lsn"),
        F.lit("U").alias("op"),
    )
    combined = t.unionByName(d).withColumn(BUCKET_COL, bucket_expr("doc_id", 16))
    packed = F.struct("lsn", "op")
    merged = (
        combined.repartition(32, BUCKET_COL)
        .groupBy(BUCKET_COL, "doc_id")
        .agg(F.max_by(packed, F.col("lsn")).alias("_row"))
    )
    plan = _plan(merged)
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{plan}"


def test_lww_salted_aggregation_two_phase(spark):
    """The salted LWW reduce must be aggregation with map-side partial
    combine (partial_max_by before each exchange), never a global window
    sort.  (max_by over a struct buffer runs as SortAggregate — the sort
    is per-partition, bounded by the salt; what matters is that the
    reduction happens BEFORE the shuffle.)"""
    from data_pipeline_spark.cdc.dedup import lww_reduce

    ev = _events(spark)
    out = lww_reduce(ev, key_col="user_id", order_col="event_id", salt_buckets=8)
    plan = _plan(out)
    assert "Window" not in plan
    assert "partial_max_by" in plan  # map-side combine present
    # two-phase: (key, salt) reduce then (key) reduce
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_jaccard_df_cap_is_broadcast_anti_join(spark):
    """The hot-shingle guard must be a broadcast LEFT ANTI join (the hot
    set is tiny by construction), not a shuffled join of all shingles."""
    from data_pipeline_spark.operators.dedupe import ngram_jaccard_pairs

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = ngram_jaccard_pairs(docs, "doc_id", "text", max_doc_freq=100)
    plan = _plan(out)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan) or re.search(
        r"BroadcastNestedLoopJoin .*LeftAnti", plan
    )


def test_word_shingles_splits_each_document_once(spark):
    """The word array is bound once per row.  An expression inside a
    transform lambda is evaluated per element, so a split referenced
    from the shingle lambda re-splits the whole document per shingle
    (quadratic in words); the plan must hold exactly one split."""
    from data_pipeline_spark.operators.dedupe import word_shingles

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = _plan(docs.select("doc_id", word_shingles("text").alias("sh")))
    assert plan.count("split(") == 1, plan


def test_lsh_candidates_plan_no_join(spark):
    """Bucket pairs come from one aggregation on (band_idx, band_key):
    the band frame is read once, with no size join and no self-join."""
    from data_pipeline_spark.operators.dedupe import lsh_candidate_pairs

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = _plan(lsh_candidate_pairs(docs, "doc_id", "text", 8, 2))
    assert "Join" not in plan, plan
    assert plan.count("split(") == 1, plan


def test_ivf_cluster_cap_is_broadcast_anti_join(spark):
    from data_pipeline_spark.operators.similarity import ivf_threshold_pairs

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    out = ivf_threshold_pairs(
        emb, "vec_id", "embedding", threshold=0.5, dim=64, max_cluster=100
    )
    plan = _plan(out)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)


def test_scd2_close_windowed_evaluates_lead_once(spark):
    """valid_to_utc and is_current both derive from ONE lead() — the
    window node must not compute the same lead twice."""
    from data_pipeline_spark.cdc.scd2 import scd2_close_windowed

    df = spark.createDataFrame(
        [("a", 1, "I"), ("a", 2, "U")], "k string, lsn long, op string"
    ).withColumn("valid_from_utc", F.current_timestamp())
    out = scd2_close_windowed(df, "k", "lsn", "valid_from_utc", "op")
    assert _plan(out).count("lead(") == 1
    assert {r.lsn: r.is_current for r in out.collect()} == {1: False, 2: True}


def test_mor_history_apply_no_extra_exchange(spark, tmp_path, monkeypatch):
    """Merge-on-read history apply: ONE bucket exchange carries the
    batch to the history files.  The union of the pruned stored rows
    and the new versions is repartitioned by bucket once; the dedup,
    gate and closure window reuses that partitioning, and nothing
    between the exchange and the write shuffles again — no join-back,
    no fixed-count (REPARTITION_BY_NUM) exchange."""
    from data_pipeline_spark.cdc.pipeline import CdcPipeline
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA
    from data_pipeline_spark.cdc.scd2 import apply_history
    from data_pipeline_spark.table import LakeTable

    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA).withColumn(
        "ingest_ts", F.current_timestamp()
    )
    apply_history(
        pipe.history,
        mk([(f"d{i}", i, "I", [1, i], 2, None, None, 0, None) for i in range(50)]),
        0,
        range(4),
        50,
    )
    # capture the frame the apply hands to its commit
    seen = {}
    merge_append = LakeTable.merge_append

    def capture(self, rows, *args, **kwargs):
        seen["rows"] = rows
        return merge_append(self, rows, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "merge_append", capture)
    apply_history(
        pipe.history,
        mk([(f"d{i}", 100 + i, "U", [2, i], 2, None, None, 0, None) for i in range(20)]),
        1,
        range(4),
        20,
    )
    plan = _plan(seen["rows"])
    assert "SortMergeJoin" not in plan, plan
    assert "REPARTITION_BY_NUM" not in plan, plan
    bucket_ex = re.findall(r"Exchange hashpartitioning\(_bucket#\d+", plan)
    assert len(bucket_ex) == 1, plan
    above, below = re.split(r"Exchange hashpartitioning\(_bucket#\d+.*\n", plan)
    assert "Exchange" not in above, f"exchange above the bucket exchange:\n{plan}"
    assert below.lstrip(" +-").startswith("Union"), plan


@pytest.mark.parametrize("limit", ["default", "zero"])
def test_history_gate_rebuild_after_probe(spark, tmp_path, monkeypatch, limit):
    """Through the pipeline, the history apply plans the broadcast
    variant before the probe's verdict.  Over ``BROADCAST_MAX_DOCS`` it
    must rebuild the shuffle variant: the frame handed to the commit
    plans no BroadcastExchange.  Size-based broadcasts are off, so a
    broadcast here can only come from the gate's hint; the default
    limit, which keeps the hint, shows the pin can see one."""
    from data_pipeline_spark.cdc import scd2
    from data_pipeline_spark.cdc.pipeline import CdcPipeline
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA
    from data_pipeline_spark.table import LakeTable

    if limit == "zero":
        monkeypatch.setattr(scd2, "BROADCAST_MAX_DOCS", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=4, compact_every=0)
        mk = lambda lsn: spark.createDataFrame(
            [(f"d{i}", lsn, "U", [lsn], 1, None, None, 0, None) for i in range(20)],
            CHANGE_EVENT_SCHEMA,
        ).withColumn("ingest_ts", F.current_timestamp())
        pipe.apply_batch(mk(1), 0)
        seen = {}
        merge_append = LakeTable.merge_append

        def capture(self, rows, *args, **kwargs):
            if self is pipe.history:
                seen["rows"] = rows
            return merge_append(self, rows, *args, **kwargs)

        monkeypatch.setattr(LakeTable, "merge_append", capture)
        pipe.apply_batch(mk(2), 1)
        plan = _plan(seen["rows"])
    finally:
        spark.conf.set(key, old)
    assert ("BroadcastExchange" in plan) == (limit == "default"), plan
    assert pipe.history_df().filter("is_current").count() == 20


def test_upsert_mor_read_reduces_its_lane_once(spark, tmp_path):
    """The resolved upsert read uses the lane's survivor rows twice —
    their ids and order keys are broadcast against the base, the live
    rows are unioned in — and both uses must share ONE shuffle of the
    lane (a reused exchange).  The broadcast serves both base joins
    (the rows it replaces, the survivors that lose), so it is built
    once and reused too.  A plan change that lets either side diverge
    (e.g. a null filter pushed below one side's aggregate) silently
    shuffles or broadcasts the whole lane twice per read."""
    from data_pipeline_spark.table import LakeTable
    from data_pipeline_spark.table.laketable import LANE_COL
    from data_pipeline_spark.table.mor import DOP_COL, DORD_COL

    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(
                F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
                F.lit("v").alias("v"),
                F.col("id").alias("lsn"),
            )
            .withColumn(DOP_COL, F.lit("U"))
            .withColumn(DORD_COL, F.current_timestamp())
        )

    rows = batch(0, 50).drop(DOP_COL, DORD_COL)
    mor = {"mode": "upsert", "row_id_cols": ["doc_id"], "order_cols": ["lsn"]}
    t = LakeTable.create(
        spark, str(tmp_path / "t"), rows.schema, "doc_id", n_buckets=2,
        merge_on_read=mor,
    )
    data, delta = F.lit("data").alias(LANE_COL), F.lit("delta").alias(LANE_COL)
    t.merge_append(rows.select("*", data), buckets=[0, 1])
    t.merge_append(batch(0, 20).select("*", delta), buckets=[0, 1])  # updates
    t.merge_append(batch(50, 60).select("*", delta), buckets=[0, 1])  # inserts
    df = t.read()
    assert len(df.collect()) == 60
    plan = _plan(df)  # the adaptive plan after execution
    final = plan.split("== Initial Plan ==")[0]
    lane_ex = re.findall(r"\+- Exchange hashpartitioning\(doc_id", final)
    assert len(lane_ex) == 1, plan
    assert final.count("ReusedExchange") == 2, plan
    assert re.search(r"ReusedExchange .*, Exchange hashpartitioning", final), plan
    assert re.search(r"ReusedExchange .*, BroadcastExchange", final), plan


def test_merge_into_over_compacted_target_scans_no_base_file(
    spark, tmp_path, monkeypatch
):
    """The merge reduces its batch only: after compaction has written
    the target's base files, the frame merge_into hands to the commit
    scans no file under the target's data/ directory."""
    from data_pipeline_spark.cdc.merge import merge_into
    from data_pipeline_spark.cdc.schema import (
        CHANGE_EVENT_SCHEMA,
        TARGET_MOR,
        TARGET_SCHEMA_BASE,
    )
    from data_pipeline_spark.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA_BASE, key_col="doc_id",
        n_buckets=2, merge_on_read=TARGET_MOR,
    )
    ev = lambda lsn: spark.createDataFrame(
        [(f"d{i}", lsn, "U", [i], 1, None, None, 0, None) for i in range(20)],
        CHANGE_EVENT_SCHEMA,
    )
    merge_into(t, ev(1), 0, range(2))
    assert t.compact(max_files_per_bucket=0) == [0, 1]
    assert t.snapshot.files and not t.snapshot.delta_files
    seen = {}
    merge_append = LakeTable.merge_append

    def capture(self, rows, *args, **kwargs):
        seen["rows"] = rows
        return merge_append(self, rows, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "merge_append", capture)
    merge_into(t, ev(2), 1, range(2))
    plan = _plan(seen["rows"])
    data_dir = os.path.join(t.path, "data")
    assert "FileScan" not in plan and data_dir not in plan, plan
    assert {r.lsn for r in t.read().collect()} == {2}

