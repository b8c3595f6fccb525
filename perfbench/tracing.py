"""Traced runs: spans around each layer's public function, Spark jobs
tagged per span, stage metrics read back from Spark's status store.

Every wrapper is installed from the benchmark's own files; nothing in
the engine knows it is traced.  A wrapper sets a job tag on the CALLING
thread (the pipeline's applies run on its own pool threads, whose JVM
threads inherit nothing useful) and removes it afterwards, so each
Spark job carries the tags of the spans that were open on its thread.
After the measured region, tag → jobs → stages is resolved from the
status store and each stage's executor run/CPU time, shuffle bytes,
spill, GC and task count are summed per span.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager, nullcontext

#: stage-metric fields summed per span (see :func:`aggregate_stages`)
STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ns", "shuffle_read", "shuffle_write",
    "spill", "gc_ms", "pandas_wall_ms",
)

#: operation-graph node names that mark a stage running a Python kernel
PYTHON_KERNEL_NODES = ("InPandas", "ArrowEvalPython", "BatchEvalPython")


class MissingTarget(RuntimeError):
    """A layer function the benchmark wraps no longer exists."""


def layer_targets():
    """(owner, attribute, span name) for every wrapped layer function.
    Owners are resolved by import, so a renamed module fails here."""
    from data_pipeline_spark.cdc import pipeline as pipeline_mod
    from data_pipeline_spark.cdc.pipeline import CdcPipeline
    from data_pipeline_spark.table.laketable import LakeTable

    return [
        (pipeline_mod, "merge_into", "merge"),
        (pipeline_mod, "apply_history", "history"),
        (LakeTable, "compact", "compact"),
        (LakeTable, "fold_delta_lane", "fold"),
        (CdcPipeline, "apply_batch", "batch"),
    ]


# ----------------------------------------------------------------------
# pure aggregation (self-tested)
# ----------------------------------------------------------------------
def zero_stats() -> dict:
    out = {f: 0 for f in STAGE_FIELDS}
    out.update(jobs=0, stages=0, skipped_stages=0)
    return out


def aggregate_stages(jobs: dict, stages: dict, job_ids) -> dict:
    """Sum stage metrics over the stages of ``job_ids``.

    ``jobs``: job id → {"stages": [stage ids], ...}; ``stages``: stage
    id → {"status", *STAGE_FIELDS}.  A stage listed by several jobs
    counts once.  Skipped stages (their shuffle output was reused, so
    no task ran) add nothing but are counted as skipped.  A stage the
    store no longer holds makes the sum wrong, so it raises.
    """
    out = zero_stats()
    seen: set[int] = set()
    for j in sorted(set(job_ids)):
        out["jobs"] += 1
        for s in jobs[j]["stages"]:
            if s in seen:
                continue
            seen.add(s)
            st = stages.get(s)
            if st is None:
                raise KeyError(f"stage {s} of job {j} is missing from the status store")
            if st["status"] == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            for f in STAGE_FIELDS:
                out[f] += st.get(f, 0)
    return out


def jobs_with_tag(jobs: dict, tag: str) -> list[int]:
    return [j for j, d in jobs.items() if tag in d["tags"]]


def jobs_in_window(jobs: dict, t0: float, t1: float) -> list[int]:
    """Jobs submitted between wall-clock seconds t0 and t1."""
    lo, hi = int(t0 * 1000) - 1, int(t1 * 1000) + 1
    return [
        j for j, d in jobs.items()
        if d["submitted_ms"] is not None and lo <= d["submitted_ms"] <= hi
    ]


# ----------------------------------------------------------------------
# tracer
# ----------------------------------------------------------------------
class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seq = itertools.count()
        self._open_batch: str | None = None
        #: seconds spent setting and removing job tags (the only tracing
        #: work inside the measured region; the status store is read after)
        self.tagging_s = 0.0
        self._installed: list[tuple] = []

    # -- wrappers ------------------------------------------------------
    def install(self, targets=None) -> None:
        for owner, attr, name in targets or layer_targets():
            if isinstance(owner, type):
                orig = owner.__dict__.get(attr)
            else:
                orig = getattr(owner, attr, None)
            if not callable(orig):
                raise MissingTarget(
                    f"{getattr(owner, '__name__', owner)}.{attr} is gone; the "
                    f"'{name}' layer cannot be traced (update perfbench/tracing.py)"
                )
            setattr(owner, attr, self._wrap(orig, name))
            self._installed.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def _wrap(self, orig, name: str):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            # merge/history/compact/fold take the LakeTable first
            table = args[0] if hasattr(args[0], "bytes_written_total") else None
            b0 = table.bytes_written_total if table is not None else 0
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if table is not None:
                    rec["bytes_written"] = table.bytes_written_total - b0
            return out

        return wrapper

    # -- spans ---------------------------------------------------------
    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext({})

    @contextmanager
    def _span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        tag = f"perfbench-{name}-{next(self._seq)}"
        rec = {
            "id": tag,
            "name": name,
            "parent": stack[-1]["id"] if stack else self._open_batch,
        }
        c0 = time.perf_counter()
        self.sc.addJobTag(tag)
        tagging = time.perf_counter() - c0
        stack.append(rec)
        if name == "batch":
            self._open_batch = tag
        rec["wall0"], rec["t0"] = time.time(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"], rec["wall1"] = time.perf_counter(), time.time()
            rec["wall"] = rec["t1"] - rec["t0"]
            if name == "batch":
                self._open_batch = None
            stack.pop()
            c0 = time.perf_counter()
            self.sc.removeJobTag(tag)
            tagging += time.perf_counter() - c0
            with self._lock:
                self.spans.append(rec)
                self.tagging_s += tagging

    # -- status store --------------------------------------------------
    def collect(self, since_wall: float) -> tuple[dict, dict]:
        """Read every job submitted after ``since_wall`` and its stages
        from the status store: (jobs, stages) in the shapes
        :func:`aggregate_stages` takes."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jl = store.jobsList(None)
        jobs: dict[int, dict] = {}
        for i in range(jl.size()):
            j = jl.apply(i)
            sub = j.submissionTime()
            sub_ms = sub.get().getTime() if sub.isDefined() else None
            if sub_ms is None or sub_ms < since_wall * 1000 - 1:
                continue
            tags = j.jobTags().mkString(",")
            ids = j.stageIds().mkString(",")
            jobs[j.jobId()] = {
                "tags": set(tags.split(",")) if tags else set(),
                "stages": [int(s) for s in ids.split(",")] if ids else [],
                "submitted_ms": sub_ms,
            }
        kernel_stages = {
            s
            for d in jobs.values()
            if any(t.startswith("perfbench-history-") for t in d["tags"])
            for s in d["stages"]
        }
        stages: dict[int, dict] = {}
        for d in jobs.values():
            for s in d["stages"]:
                if s in stages:
                    continue
                st = store.lastStageAttempt(s)
                rec = {
                    "status": st.status().toString(),
                    "tasks": st.numTasks(),
                    "run_ms": st.executorRunTime(),
                    "cpu_ns": st.executorCpuTime(),
                    "shuffle_read": st.shuffleReadBytes(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "gc_ms": st.jvmGcTime(),
                    "pandas_wall_ms": 0,
                }
                if s in kernel_stages and rec["status"] != "SKIPPED":
                    if _runs_python_kernel(store, s):
                        t0, t1 = st.submissionTime(), st.completionTime()
                        if t0.isDefined() and t1.isDefined():
                            rec["pandas_wall_ms"] = (
                                t1.get().getTime() - t0.get().getTime()
                            )
                stages[s] = rec
        return jobs, stages


def _runs_python_kernel(store, stage_id: int) -> bool:
    names = []
    todo = [store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        c = todo.pop()
        names.append(c.name())
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return any(k in n for n in names for k in PYTHON_KERNEL_NODES)
