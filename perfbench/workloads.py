"""The two workloads.  Each drives the engine only through its public
entry points and returns (end-to-end metrics, per-layer metrics); the
run context counts the operations and checks attempted and failed.

A run is: set-up (inputs from the seed, warm-up), the measured region
on fresh state, then the oracle comparisons outside any timing.  With
tracing on, the same region runs with every layer wrapped and the
per-layer numbers are read back from Spark's status store after it.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import time
from contextlib import nullcontext
from urllib.parse import urlparse

import pyarrow.compute as pc
import pyarrow.parquet as pq

from checks import (
    CheckFailed,
    Oracle,
    check_as_of,
    check_final_state,
    check_history,
    check_query,
    duckdb_connection,
)
from corpus import generate_corpus
from stats import geomean, median
from tracing import aggregate_stages, jobs_in_window, jobs_with_tag

#: every CdcPipeline argument the benchmark sets; all others keep their
#: defaults (no storage= / table_format=, which pending refactors remove).
#: max_delta_bytes_per_bucket keeps its default, so the lane-bytes fold
#: (LakeTable.fold_delta_lane) never fires: with the fold on, the final
#: state keeps a deleted key (README.md, "The fold layer").
PIPELINE_SETTINGS = {"compact_every": 3, "max_files_per_bucket": 4}
#: synth shape shared by the CDC workloads
SYNTH = {"n_partitions": 8, "min_tok": 32, "max_tok": 192}
#: mean change events per synth doc (5–20 versions, 0.2% hot keys at 50×, 1% dups)
EVENTS_PER_DOC = 13.9

REPLAY_EVENTS_PER_BATCH = 15_000
BATCHES_PER_CYCLE = 3  # = compact_every: every cycle prices one compaction
CORPUS_SCALE = 0.02
#: --seconds buys whole replay cycles (three batches, ~20–25 s on a 4-vCPU
#: VM) and whole query passes (~11–15 s each)
REPLAY_CYCLE_S = 25.0
CORPUS_PASS_S = 12.5
WARMUP_EVENTS = 2_000
WARMUP_AS_OF = "2024-01-01 00:10:00"


class Ctx:
    """Per-run state handed to a workload."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.setup_parts: dict[str, float] = {}
        #: the set-up parts that are the program's work and add up to
        #: setup_s with the session start; the others are only reported
        self.setup_counted: tuple[str, ...] = ("synth_s", "warmup_s")
        self._last = time.perf_counter()
        self.phase_s: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Close a phase of the run (set-up, measured, checks) for the log."""
        now = time.perf_counter()
        self.phase_s[phase] = now - self._last
        self._last = now

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, fn, *args) -> None:
        """Run one oracle check, counting it attempted / failed."""
        self.attempted += 1
        try:
            fn(*args)
        except CheckFailed as e:
            self.failed += 1
            print(f"CHECK FAILED: {e}", flush=True)

    @property
    def traced(self) -> bool:
        return self.tracer is not None

    def span(self, name: str):
        """A traced span around a read or query; nothing when untraced."""
        return self.tracer.span(name) if self.traced else nullcontext()


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _synth(out_dir: str, events: int, n_files: int, seed: int) -> dict:
    from data_pipeline_spark.cdc.synth import generate_change_log

    n_docs = max(100, round(events / EVENTS_PER_DOC))
    return generate_change_log(out_dir, n_docs=n_docs, seed=seed, n_files=n_files, **SYNTH)


def _new_pipeline(spark, path: str):
    from data_pipeline_spark.cdc.pipeline import CdcPipeline

    return CdcPipeline(spark, path, **PIPELINE_SETTINGS)


class BatchClock:
    """Stands in for the pipeline handed to ``run_stream``: forwards
    ``apply_batch``, records when each batch started and committed, then
    runs ``after`` (the read-after-write step) before the stream may
    start its next trigger."""

    def __init__(self, pipeline, after):
        self.pipeline = pipeline
        self.after = after
        self.batches: list[dict] = []

    def apply_batch(self, df, batch_id: int):
        rec = {"batch_id": batch_id, "wall0": time.time(), "t0": time.perf_counter()}
        out = self.pipeline.apply_batch(df, batch_id)
        rec["t1"], rec["wall1"] = time.perf_counter(), time.time()
        self.after(rec)
        rec["t2"] = time.perf_counter()
        self.batches.append(rec)
        return out

    def walls(self) -> list[float]:
        return [b["t1"] - b["t0"] for b in self.batches]

    def gaps(self) -> list[float]:
        """Stream time between one batch's reads ending and the next
        batch starting (offset log, commit log, file listing, planning)."""
        return [b["t0"] - a["t2"] for a, b in zip(self.batches, self.batches[1:])]


# ----------------------------------------------------------------------
# set-up shared by the CDC workloads
# ----------------------------------------------------------------------
def _cdc_warmup(ctx: Ctx) -> None:
    """Warm-up: synthesize a small log, stream it into a scratch pipeline
    and run one current-state scan and one as_of read, so JVM class
    loading, code generation and Python-worker start-up are paid in
    set-up rather than in the measured region."""
    from data_pipeline_spark.cdc.scd2 import as_of
    from data_pipeline_spark.cdc.stream import run_stream

    d = _fresh(ctx.path("warmup"))
    t0 = time.perf_counter()
    _synth(os.path.join(d, "log"), WARMUP_EVENTS, 1, ctx.seed + 1)
    pipe = _new_pipeline(ctx.spark, os.path.join(d, "wh"))
    run_stream(ctx.spark, os.path.join(d, "log"), pipe, os.path.join(d, "ckpt"),
               max_files_per_trigger=1)
    _materialize(pipe.current_state())
    _materialize(as_of(pipe.history_df(), WARMUP_AS_OF))
    ctx.setup_parts["warmup_s"] = time.perf_counter() - t0
    shutil.rmtree(d, ignore_errors=True)
    ctx.mark("setup")


def _timed_synth(ctx: Ctx, fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    ctx.setup_parts["synth_s"] = time.perf_counter() - t0
    return out


def _measure(ctx: Ctx, region):
    """Run the measured region on fresh state.  Traced, also return the
    jobs and stages it ran and its spans."""
    if not ctx.traced:
        return region(), None, None, None
    tr = ctx.tracer
    since = time.time()
    tr.enabled = True
    try:
        res = region()
    finally:
        tr.enabled = False
    jobs, stages = tr.collect(since)
    return res, jobs, stages, list(tr.spans)


# ----------------------------------------------------------------------
# per-layer numbers for the CDC replay path (traced region)
# ----------------------------------------------------------------------
def _span_stats(spans, jobs, stages, name: str) -> list[tuple[dict, dict]]:
    return [
        (s, aggregate_stages(jobs, stages, jobs_with_tag(jobs, s["id"])))
        for s in spans
        if s["name"] == name
    ]


def _per_batch_layers(ctx: Ctx, spans, jobs, stages) -> dict:
    batches = [s for s in spans if s["name"] == "batch"]
    if not batches:
        raise RuntimeError("traced region recorded no apply_batch spans")
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows: dict[str, list[float]] = {}

    def put(k, v):
        rows.setdefault(k, []).append(v)

    tot_run_ms = tot_wall = 0.0
    for b in batches:
        ch = kids.get(b["id"], [])
        applies = [c for c in ch if c["name"] in ("merge", "history")]
        if not applies:
            raise RuntimeError(f"batch span {b['id']} has no merge/history child")
        maint = sum(c["wall"] for c in ch if c["name"] in ("compact", "fold"))
        start = min(c["t0"] for c in applies)
        block = max(c["t1"] for c in applies) - start
        # batch wall = serial (probe included) + apply block + compaction
        put("pipeline.probe_s", start - b["t0"])
        put("pipeline.apply_block_s", block)
        put("pipeline.serial_s", b["wall"] - block - maint)
        win = aggregate_stages(jobs, stages, jobs_in_window(jobs, b["wall0"], b["wall1"]))
        put("pipeline.jobs_per_batch", win["jobs"])
        tot_run_ms += win["run_ms"]
        tot_wall += b["wall"]
        for layer in ("merge", "history"):
            for c in ch:
                if c["name"] != layer:
                    continue
                st = aggregate_stages(jobs, stages, jobs_with_tag(jobs, c["id"]))
                put(f"{layer}.wall_s", c["wall"])
                put(f"{layer}.executor_cpu_s", st["cpu_ns"] / 1e9)
                put(f"{layer}.shuffle_bytes", st["shuffle_read"] + st["shuffle_write"])
                put(f"{layer}.bytes_written", c.get("bytes_written", 0))
                put(f"{layer}.jobs", st["jobs"])
                if layer == "history":
                    put("history.pandas_stage_s", st["pandas_wall_ms"] / 1000.0)
    out = {k: median(v) for k, v in rows.items()}
    # task time over core time while batches ran (Python-worker time is
    # inside task run time; JVM executorCpuTime would miss it)
    out["pipeline.core_util"] = tot_run_ms / 1000.0 / (tot_wall * ctx.cores)
    for layer in ("compact", "fold"):
        calls = [s for s in spans if s["name"] == layer]
        out[f"{layer}.calls"] = len(calls)
        out[f"{layer}.wall_s"] = sum(s["wall"] for s in calls)
        if layer == "compact":
            out["compact.bytes_rewritten"] = sum(s.get("bytes_written", 0) for s in calls)
    every = aggregate_stages(jobs, stages, list(jobs))
    out["jvm.gc_s"] = every["gc_ms"] / 1000.0
    out["jvm.spill_bytes"] = every["spill"]
    return out


def _storage_layers(pipe) -> dict:
    """Write amplification and bytes stored per live history row."""
    events = sum(p.get("rows", 0) for p in pipe.phase_times)
    written = sum(p.get("bytes_written", 0) for p in pipe.phase_times)
    stored = 0
    for t in (pipe.target, pipe.history):
        snap = t.refresh().snapshot
        stored += sum(
            os.path.getsize(os.path.join(t.path, rel))
            for fs in snap.files.values()
            for rel in fs
        )
        stored += sum(int(e[1] or 0) for fs in snap.delta_files.values() for e in fs)
    rows = pipe.history_df().count()
    return {
        "table.bytes_per_event": written / events,
        "table.stored_bytes_per_row": stored / rows,
    }


def _require_work(layers: dict, names) -> None:
    for n in names:
        if not layers.get(n):
            raise RuntimeError(
                f"traced layer metric {n} is zero on a workload where that layer "
                "must work; a wrapper is no longer on the call path"
            )


def _trace_layers(ctx: Ctx, layers: dict, op_s: float) -> None:
    """What tracing cost: the traced run's op_s (compare with the
    untraced runs' op_s) and the time spent setting job tags."""
    layers["trace.op_s"] = op_s
    layers["trace.tagging_s"] = ctx.tracer.tagging_s


# ----------------------------------------------------------------------
# cdc_replay
# ----------------------------------------------------------------------
def cdc_replay(ctx: Ctx):
    from data_pipeline_spark.cdc.scd2 import as_of
    from data_pipeline_spark.cdc.stream import run_stream

    n_batches = BATCHES_PER_CYCLE * max(1, round(ctx.seconds / REPLAY_CYCLE_S))
    log = _fresh(ctx.path("replay", "log"))
    _timed_synth(ctx, _synth, log, REPLAY_EVENTS_PER_BATCH * n_batches, n_batches, ctx.seed)
    # a fixed past instant for as_of: the median event time of the first batch
    first = sorted(glob.glob(os.path.join(log, "*.parquet")))[0]
    ts = pq.read_table(first, columns=["ingest_ts"])["ingest_ts"].cast("int64")
    instant = dt.datetime.fromtimestamp(
        pc.approximate_median(ts).as_py() // 1_000_000, dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")
    _cdc_warmup(ctx)

    def region():
        base = _fresh(ctx.path("replay", "run"))
        pipe = _new_pipeline(ctx.spark, os.path.join(base, "wh"))

        def read_after_write(rec):
            with ctx.span("scan"):
                s = time.perf_counter()
                cur = pipe.current_state()
                rec["lane_files"] = sum(pipe.target.delta_stats().values())
                rec["lane_bytes"] = sum(pipe.target.delta_bytes().values())
                _materialize(cur)
                rec["scan"] = time.perf_counter() - s
            with ctx.span("asof"):
                s = time.perf_counter()
                _materialize(as_of(pipe.history_df(), instant))
                rec["asof"] = time.perf_counter() - s

        clock = BatchClock(pipe, read_after_write)
        t0 = time.perf_counter()
        run_stream(ctx.spark, log, clock, os.path.join(base, "ckpt"), max_files_per_trigger=1)
        return pipe, clock, time.perf_counter() - t0

    (pipe, clock, wall), jobs, stages, spans = _measure(ctx, region)
    ctx.mark("measured")
    ctx.attempted += 3 * len(clock.batches)  # apply, scan, as_of
    oracle = Oracle(log)
    ctx.check(check_final_state, pipe, oracle)
    ctx.check(check_history, pipe, oracle)
    ctx.check(check_as_of, pipe, oracle, instant)
    events = sum(p["rows"] for p in pipe.phase_times)
    # per-batch apply cost: compaction is paid every third batch and is
    # priced into throughput, not into the median batch
    applies = [
        w - p.get("compact", 0.0) for w, p in zip(clock.walls(), pipe.phase_times)
    ]
    for b, a in zip(clock.batches, applies):
        print(f"# cdc_replay batch {b['batch_id']}: apply {a:.3f}s, scan {b['scan']:.3f}s, "
              f"as_of {b['asof']:.3f}s, {b['lane_files']} delta-lane files", flush=True)
    e2e = {
        # the drain wall holds the reads after each commit, so work moved
        # from writes onto reads still shows here
        "throughput_per_s": events / wall,
        "op_s": median(applies),
    }
    layers = {}
    if ctx.traced:
        layers.update(_per_batch_layers(ctx, spans, jobs, stages))
        layers.update(_storage_layers(pipe))
        layers["stream.trigger_gap_s"] = median(clock.gaps())
        reads = [b["scan"] + b["asof"] for b in clock.batches]
        # a mean, not a median: the commits sit at different lane depths
        layers["read.after_write_s"] = sum(reads) / len(reads)
        for name in ("scan", "asof"):
            st = [a for _, a in _span_stats(spans, jobs, stages, name)]
            layers[f"read.{name}_p50_s"] = median(b[name] for b in clock.batches)
            layers[f"{name}.executor_cpu_s"] = median(a["cpu_ns"] / 1e9 for a in st)
        layers["scan.shuffle_bytes"] = median(
            a["shuffle_read"] + a["shuffle_write"]
            for _, a in _span_stats(spans, jobs, stages, "scan")
        )
        layers["lane.delta_files_at_read"] = median(b["lane_files"] for b in clock.batches)
        layers["lane.delta_bytes_at_read"] = median(b["lane_bytes"] for b in clock.batches)
        _trace_layers(ctx, layers, median(applies))
        _require_work(layers, ("merge.jobs", "history.jobs", "compact.calls",
                               "pipeline.probe_s", "scan.executor_cpu_s",
                               "asof.executor_cpu_s"))
    return e2e, layers


# ----------------------------------------------------------------------
# corpus_queries
# ----------------------------------------------------------------------
def corpus_queries(ctx: Ctx):
    import __spark_entry__ as entry
    from bench import HEADLINE_QUERIES

    qs, oracles = entry.queries(), entry.oracle_sql()
    corpus = ctx.path("corpus")
    # the corpus is the benchmark's own input, not the program's work:
    # its generation is reported (setup.synth_s) but left out of setup_s
    rows = _timed_synth(ctx, generate_corpus, corpus, ctx.seed, CORPUS_SCALE)
    ctx.setup_counted = ("warmup_s",)

    # warm-up: one cold pass that collects every query's rows.  Only the
    # Spark run and the fetch of its rows are timed; the rows are kept
    # for the DuckDB comparison after the measured region.  The rows each
    # query reads come from the parquet files its plan scans.
    table_rows = {os.path.join(corpus, f"{t}.parquet"): n for t, n in rows.items()}
    rows_read = 0
    results = {}
    warm = 0.0
    for name in HEADLINE_QUERIES:
        t0 = time.perf_counter()
        df = qs[name](ctx.spark, corpus)
        results[name] = (df.columns, df.collect())
        warm += time.perf_counter() - t0
        rows_read += sum(
            table_rows[os.path.normpath(urlparse(f).path)] for f in df.inputFiles()
        )
    ctx.setup_parts["warmup_s"] = warm
    ctx.mark("setup")
    passes = max(1, round(ctx.seconds / CORPUS_PASS_S))

    def region():
        per_q: dict[str, list[float]] = {n: [] for n in HEADLINE_QUERIES}
        pass_walls = []
        for _ in range(passes):
            p0 = time.perf_counter()
            for name in HEADLINE_QUERIES:
                with ctx.span(f"query.{name}"):
                    s = time.perf_counter()
                    _materialize(qs[name](ctx.spark, corpus))
                    per_q[name].append(time.perf_counter() - s)
            pass_walls.append(time.perf_counter() - p0)
        return per_q, pass_walls

    (per_q, pass_walls), jobs, stages, spans = _measure(ctx, region)
    ctx.mark("measured")
    ctx.attempted += sum(len(v) for v in per_q.values())
    con = duckdb_connection(corpus)
    for name in HEADLINE_QUERIES:
        ctx.check(check_query, *results[name], con, oracles[name], name)
    con.close()
    q_s = {n: median(v) for n, v in per_q.items()}
    e2e = {
        # rows scanned per second of a pass: a constant of the corpus over
        # the mean pass wall, which weighs minhash_lsh_candidates ~40%
        "throughput_per_s": rows_read * passes / sum(pass_walls),
        # geometric mean over the queries of each query's median wall: the
        # typical query
        "op_s": geomean(q_s.values()),
    }
    layers = {}
    if ctx.traced:
        layers["query.pass_s"] = sum(pass_walls) / passes
        for name in HEADLINE_QUERIES:
            layers[f"query.{name}_s"] = q_s[name]
            for s in spans:
                if s["name"] == f"query.{name}" and not jobs_with_tag(jobs, s["id"]):
                    raise RuntimeError(f"query {name} ran no tagged Spark job")
        every = aggregate_stages(jobs, stages, list(jobs))
        layers["jvm.gc_s"] = every["gc_ms"] / 1000.0
        layers["jvm.spill_bytes"] = every["spill"]
        _trace_layers(ctx, layers, e2e["op_s"])
    return e2e, layers


WORKLOADS = {"cdc_replay": cdc_replay, "corpus_queries": corpus_queries}
