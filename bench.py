#!/usr/bin/env python
"""bench.py — headline benchmark for the PySpark CDC engine.

    python bench.py [--sf-dir DIR]

* times the headline queries from ``__spark_entry__.queries()`` at
  ``--sf-dir`` (default ``$SPARK_GRAFT_SF_DIR``, else the sf0.1 test
  corpus) on ``local[$SPARK_GRAFT_CPUS]`` (default local[*]);
* measures end-to-end CDC replay throughput (the engine's primary
  metric, BASELINE.json): synthesize a deterministic change log and
  drain it through Structured Streaming (``cdc/stream.py:run_stream``:
  file source, foreachBatch → CdcPipeline, offsets checkpointed after
  each batch commits), reporting change-events/sec applied;
* after the timed replay, untimed, checks the final state and the SCD2
  history against the pandas oracle (``cdc/oracle.py``) and exits
  non-zero (AssertionError) on a mismatch;
* prints ONE JSON line:
      {"metric": ..., "value": N, "unit": "sec",
       "queries": {...}, "sf": ..., "cdc_replay": {...}}
  and writes the per-batch detail to BENCH_DETAIL.json.

``perfbench/`` (BENCHMARK.json) is the benchmark with per-layer
metrics; it imports ``HEADLINE_QUERIES`` from this module.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# representative subset of __spark_entry__.queries(): one per operator
# family (CDC core, windows, joins, aggs, control, dedup/LSH, text, ANN)
HEADLINE_QUERIES = [
    "cdc_lww_current_state",
    "dedup_first_arrival",
    "gap_detection",
    "scd2_intervals",
    "agg_daily_by_type",
    "user_profile",
    "pit_range_join",
    "pit_scd2_dim_join",
    "broadcast_enrich",
    "union_canonicalize",
    "load_sequencing",
    "completeness",
    "exact_dup_docs",
    "minhash_lsh_candidates",
    "simhash",
    "token_counts",
    "quality_scores",
    "langid",
    "ann_topk",
    "rules_quarantine",
]

# replay-bench log shape: big enough that compute dominates JVM/job
# overhead, small enough to synthesize in seconds.  24 files at 3 per
# trigger = an 8-batch replay with compaction ON: the headline sees
# steady state — per-batch walls as the table grows, plus the amortized
# compaction cost a continuous deployment actually pays.
REPLAY_CFG = dict(
    n_docs=60_000,
    seed=7,
    n_partitions=32,
    n_files=24,
    min_tok=32,
    max_tok=192,
)
REPLAY_BATCH_FILES = 3     # 8 batches
REPLAY_COMPACT_EVERY = 4   # 2 lane folds across the replay
# bucket count is a deployment knob sized to data volume (~1 bucket per
# few GB of table); 16 at this scale keeps shuffle width and per-commit
# file counts proportionate — 64 was modeling a table 100× this size
# and paid for it in task-scheduling constant per micro-batch.
REPLAY_BUCKETS = 16


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> int:
    """Force full computation without driver-side collect."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE_QUERIES:
        fn = qs[name]
        t0 = time.perf_counter()
        _materialize(fn(spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings


def run_replay(spark, log_dir: str, work_dir: str, n_events: int) -> dict:
    from data_pipeline_spark.cdc.oracle import (
        assert_history_equal,
        assert_tokens_equal,
        expected_final_state,
        load_log,
    )
    from data_pipeline_spark.cdc.pipeline import CdcPipeline
    from data_pipeline_spark.cdc.stream import run_stream

    pipeline = CdcPipeline(
        spark,
        os.path.join(work_dir, "lake"),
        n_buckets=REPLAY_BUCKETS,
        compact_every=REPLAY_COMPACT_EVERY,
    )
    t0 = time.perf_counter()
    n_batches = run_stream(
        spark,
        log_dir,
        pipeline,
        os.path.join(work_dir, "checkpoint"),
        max_files_per_trigger=REPLAY_BATCH_FILES,
    )
    elapsed = time.perf_counter() - t0

    # untimed: the replay must equal the oracle, state and every version
    log = load_log(log_dir)
    state = (
        pipeline.current_state()
        .select("doc_id", "tokens", "n_tok", "source")
        .toPandas()
    )
    assert_tokens_equal(state, expected_final_state(log))
    assert_history_equal(pipeline, log)

    ph = pipeline.phase_times
    # steady state = batches 1..N (batch 0 carries JVM/codegen warm-up),
    # compaction INCLUDED — this is the throughput a continuous
    # deployment actually sustains
    ss = ph[1:] if len(ph) > 1 else ph
    ss_rows = sum(p.get("rows", 0) for p in ss)
    ss_wall = sum(p["total"] for p in ss)
    compaction_sec = round(sum(p.get("compact", 0.0) for p in ph), 3)
    return {
        "events": n_events,
        "batches": n_batches,
        "elapsed_sec": round(elapsed, 3),
        "events_per_sec": round(n_events / elapsed, 1),
        "steady_state_events_per_sec": (
            round(ss_rows / ss_wall, 1) if ss_wall else None
        ),
        "compaction_sec_total": compaction_sec,
        # write amplification: bytes materialised per applied event,
        # steady-state batches, compaction included (tmpfs walls hide
        # what S3/disk walls would not)
        "steady_state_bytes_per_event": (
            round(sum(p.get("bytes_written", 0) for p in ss) / ss_rows, 1)
            if ss_rows
            else None
        ),
        "bytes_written_total": sum(p.get("bytes_written", 0) for p in ph),
        "final_rows": len(state),
        # per-batch phase walls (probe / merge / history / dead_letter /
        # lineage / applies / compact / total); a history wall that
        # stays ~flat as batches accumulate is the merge-on-read
        # O(batch) write-cost claim, measured
        "phases": ph,
    }


def synth_log(log_dir: str) -> dict:
    from data_pipeline_spark.cdc.synth import generate_change_log

    return generate_change_log(log_dir, **REPLAY_CFG)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="bench-cdc-")
    log_dir = os.path.join(tmp, "changelog")
    try:
        n_events = synth_log(log_dir)["total_events"]

        from data_pipeline_spark.session import build_session

        spark = build_session("bench")
        try:
            # replay FIRST: 20 heavy queries leave the session with
            # enough broadcast/GC debris to slow the subsequent replay
            # ~2× (measured 142.8 s vs 67.0 s for the identical replay);
            # the queries are much less sensitive to session age
            replay = run_replay(spark, log_dir, os.path.join(tmp, "work"), n_events)
            spark.catalog.clearCache()
            timings = run_queries(spark, args.sf_dir)
        finally:
            spark.stop()

        total = round(sum(timings.values()) + replay["elapsed_sec"], 3)
        # the summary line stays small and bounded (a tail-captured log
        # keeps it whole); the full per-batch detail goes to a sidecar
        # file next to this script (BENCH_DETAIL.json)
        summary_replay = {k: v for k, v in replay.items() if k != "phases"}
        out = {
            "metric": "headline_queries_plus_cdc_replay_total",
            "value": total,
            "unit": "sec",
            "queries": {**timings, "cdc_replay": replay["elapsed_sec"]},
            "sf": _sf_of(args.sf_dir),
            "cdc_replay": summary_replay,
            "detail_file": "BENCH_DETAIL.json",
        }
        try:
            with open(os.path.join(REPO_ROOT, "BENCH_DETAIL.json"), "w") as f:
                json.dump({"cdc_replay": replay, "queries": timings}, f, indent=1)
        except OSError:
            pass  # sidecar is best-effort; the summary line is the record
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
