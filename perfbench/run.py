#!/usr/bin/env python3
"""CDC engine benchmark — one command, two workloads.

    python3 perfbench/run.py --workload {cdc_replay,corpus_queries}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  Inputs are generated from ``--seed``;
``--seconds`` sizes the measured region.  ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones
(see README.md).  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Everything the run
writes goes under ``.perfbench_work/`` in the repository and is removed
at exit; every process it starts is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("cdc_replay", "corpus_queries")


def _session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # the status store must still hold every job of the measured region
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def _descendants(pid: int) -> list[int]:
    from stats import child_pids

    children, out, todo = child_pids(), [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session, then the driver JVM (it exits when its stdin
    closes) and wait until every process it started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(_alive(p) for p in kids) and time.time() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    sys.path[:0] = [ROOT, HERE]
    # fail before starting a JVM when the engine is not there
    import data_pipeline_spark.cdc.pipeline  # noqa: F401
    from data_pipeline_spark.session import build_session
    from stats import peak_rss_mb
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    cores = min(4, len(os.sched_getaffinity(0)))

    t0 = time.perf_counter()
    spark = build_session(
        "perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=_session_conf(work)
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    tracer = None
    try:
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        ctx = Ctx(spark, work, args.seed, args.seconds, tracer, cores)
        e2e, layers = WORKLOADS[args.workload](ctx)
        ctx.mark("checks")
        rss = peak_rss_mb()
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another workload's directory is still there
            pass

    parts = ctx.setup_parts
    e2e["setup_s"] = session_s + sum(parts[k] for k in ctx.setup_counted)
    layers.update({
        "peak_rss_mb": rss,
        "setup.session_s": session_s,
        "setup.synth_s": parts["synth_s"],
        "setup.warmup_s": parts["warmup_s"],
    })
    got = layers if args.trace else e2e
    unknown = sorted(set(got) - set(units))
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    # a per-layer metric the workload did not produce belongs to a layer
    # that does no work on it: report 0 rather than omit it
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in units.items()}
    if not args.trace:
        missing = [n for n in units if n not in got]
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {missing}")
    for phase, secs in ctx.phase_s.items():
        print(f"# {args.workload} phase {phase}: {secs:.1f}s")
    for n, m in metrics.items():
        print(f"# {args.workload} {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
