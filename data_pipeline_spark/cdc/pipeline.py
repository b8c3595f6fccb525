"""CdcPipeline — the per-batch apply path (the foreachBatch body).

One micro-batch of raw change events goes through (SURVEY.md §3.2
re-expression):

  1. validation split → dead_letter (T9; parsers.py:114-158 analogue)
  2. one planning probe (DDL set, distinct-key and dead-row counts)
     whose SCHEMA records → additive schema evolution on
     target+history (C8)
  3. MERGE (C1/C9) whose per-(bucket, key) max_by IS both the arrival
     dedup (W1/T2) and the LWW reduce (W2) — map-side partial
     aggregation salts hot keys
  4. all versions → SCD2 history append + closure (C5/C6)
  5. per-partition lineage/metrics row (C10) + dead-letter append
  6. periodic small-file compaction (north_rule), one thread per table

Steps 2-5 run on one thread pool: the probe is not a serial step in
front of the writers.  Merge and history plan against every bucket,
build their plans while the probe runs, and wait for its verdict
before their first Spark action; the probe applies the DDLs before it
returns, so DDL commits still land before data commits, and each
writer drops, at write time, the payload columns its table still
lacks.  Only the dead-letter apply waits for the probe before it
starts.

Exactly-once: every table commit carries the batch epoch as its
batch_key inside the atomic snapshot commit (commit manifest, C3).  On
restart after a crash anywhere in 1-6, the replayed batch skips the
tables that already recorded the epoch and re-applies the rest —
each step is idempotent, so the final state is identical.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table.laketable import LakeTable
from ..table.mor import require_mode
from .merge import merge_into
from .scd2 import apply_history
from .schema import (
    DEAD_LETTER_SCHEMA,
    HISTORY_MOR,
    HISTORY_SCHEMA_BASE,
    LINEAGE_SCHEMA,
    TARGET_MOR,
    TARGET_SCHEMA_BASE,
    parse_ddl,
    stamp_batch_id as _stamp,
)

VALID_OPS = ("I", "U", "D")


class CdcPipeline:
    """The four tables of one CDC replay under ``base_dir``, and the
    per-batch apply that writes all of them:

    * ``target`` — current state, merge-on-read upsert (``merge_into``);
    * ``history`` — every SCD2 version, merge-on-read patch
      (``apply_history``), bucketed like the target so both writers
      plan against one bucket set;
    * ``lineage`` — one row per (batch, kafka partition): rows in,
      deduped and dead-lettered, and the applied lsn span — the input of
      ``control.jobs.ControlRunner``;
    * ``dead_letter`` — the rows that failed validation, with reasons.

    ``scd2_check_cols`` switches history to check-cols SCD2 (an update
    whose tracked columns are unchanged opens no version)."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        n_buckets: int = 16,
        compact_every: int = 8,
        max_files_per_bucket: int = 8,
        max_delta_bytes_per_bucket: int = 128 * 1024 * 1024,
        scd2_check_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.base_dir = os.path.abspath(base_dir)
        self.compact_every = compact_every
        self.max_files_per_bucket = max_files_per_bucket
        # lane-SIZE compaction trigger, checked EVERY batch (a manifest
        # dict sum, no Spark job): a delta lane that outruns the
        # batch-count cadence — hot buckets, bursty batches, a raised
        # compact_every — is folded on bytes before its read-side
        # resolution degrades toward mor.py's forced-broadcast ceiling
        self.max_delta_bytes_per_bucket = max_delta_bytes_per_bucket
        # optional check-cols SCD2 (C4): only attr-hash-changed updates
        # open history versions; None = version every distinct lsn
        self.scd2_check_cols = scd2_check_cols
        self._batches_applied = 0
        # per-batch phase walls (seconds), rows and bytes written,
        # appended by apply_batch.  Cost: a handful of perf_counter
        # calls — always on.  perfbench reads rows and bytes from it
        # (events/s, write amplification); per-layer Spark stage
        # metrics come from perfbench's job tags, not from here.
        self.phase_times: list[dict] = []

        def tbl(name: str, schema, key: str, nb: int, mor=None):
            path = os.path.join(self.base_dir, name)
            if not LakeTable.exists(path):
                return LakeTable.create(
                    spark, path, schema, key_col=key, n_buckets=nb,
                    merge_on_read=mor,
                )
            t = LakeTable.load(spark, path)
            if mor is not None:
                # target and history are merge-on-read only: a warehouse
                # written by the removed copy-on-write mode fails here,
                # not mid-batch
                require_mode(t, mor["mode"])
            return t

        # target takes whole-row upserts / tombstones (batch commits as
        # delta files, compaction folds the lane); history takes base
        # appends of new versions + validity patches of stored ones —
        # per-batch write volume O(batch) for both
        self.target = tbl(
            "target", TARGET_SCHEMA_BASE, "doc_id", n_buckets, mor=TARGET_MOR
        )
        self.history = tbl(
            "history", HISTORY_SCHEMA_BASE, "doc_id", n_buckets, mor=HISTORY_MOR
        )
        # apply_batch passes one bucket set, every target bucket, to
        # both writers, so both must hash keys into the same buckets
        h, t = self.history, self.target
        if (h.n_buckets, h.key_col) != (t.n_buckets, t.key_col):
            raise ValueError(
                f"history at {h.path} is bucketed by {h.n_buckets} x "
                f"{h.key_col} but the target by {t.n_buckets} x "
                f"{t.key_col}; both must be bucketed alike"
            )
        self.lineage = tbl("lineage", LINEAGE_SCHEMA, "batch_id", 1)
        self.dead_letter = tbl("dead_letter", DEAD_LETTER_SCHEMA, "batch_id", 1)

    # ------------------------------------------------------------------
    def apply_batch(self, df: DataFrame, batch_id: int) -> dict:
        """Apply one micro-batch; safe to call again with the same
        batch_id after a crash (exactly-once via commit manifests)."""
        import time as _time

        bkey = str(batch_id)
        _t0 = _time.perf_counter()
        _ph: dict = {"batch_id": batch_id}
        # NOTE: df is deliberately NOT persisted or pre-deduplicated —
        # merge and history each reduce the batch on their own shuffle
        # (duplicates collapse there), and the remaining consumers (ddl
        # scan, dead-letter filter, lineage agg) are column-pruned, so
        # re-scanning parquet beats materializing the full-width batch
        # (token arrays) into a cache.
        is_schema = F.col("op") == "SCHEMA"
        failure = (
            F.when(F.col("op").isNull() | ~F.col("op").isin(*VALID_OPS), "unknown_op")
            .when(F.col("doc_id").isNull(), "null_key")
            .when(F.col("lsn").isNull(), "null_lsn")
            .when(F.col("op").isin("I", "U") & F.col("tokens").isNull(), "null_payload")
        )

        valid = ~is_schema & failure.isNull()
        buckets = range(self.target.n_buckets)
        # each apply builds its frame of the batch on its own pool
        # thread (analysing a frame costs driver time), so the probe's
        # job is not queued behind them

        def changes() -> DataFrame:
            # the writers carry every payload column of their frame, so
            # it holds the change columns only
            return df.filter(valid).drop("ddl", "partition")

        # NOTE: no separate arrival-dedup pass — at-least-once duplicate
        # deliveries collapse inside the merge's max_by reduce and
        # inside the history apply's closure window on its one bucket
        # exchange (first arrival wins in both), so the batch is
        # scanned rather than materialized into a 3×-copied cache.

        def _probe() -> dict:
            # ONE column-pruned job computes every driver-side planning
            # input of the batch — the DDL set (schema evolution), the
            # distinct-key count (history broadcast gate) and the
            # dead-row count (dead-letter skip).  Per-batch planning is
            # a pure Amdahl constant (it does not shrink with
            # executors), so the job runs on its own pool thread, while
            # merge and history build their plans
            row = df.agg(
                F.collect_set(F.when(is_schema, F.col("ddl"))).alias("ddls"),
                # HLL, not exact count_distinct: nd only gates the
                # history broadcast decision (order-of-magnitude), and
                # the exact version builds a per-partition hash set over
                # every key — measured 18-21 s/batch at 8.3M events vs
                # ~0 for the sketch.  rsd 0.05 (512 registers), not
                # 0.02 (4096): the finer sketch added ≈0.1 s to this
                # job on a 15k-event batch, and the writers wait for it
                F.approx_count_distinct(
                    F.when(valid, F.col("doc_id")), 0.05
                ).alias("nd"),
                F.sum(
                    F.when(~is_schema & failure.isNotNull(), 1).otherwise(0)
                ).alias("n_dead"),
                F.sum(F.when(valid, 1).otherwise(0)).alias("n_valid"),
            ).first()
            n_valid = int(row["n_valid"] or 0)
            n_dead = int(row["n_dead"] or 0)
            _ph["rows"] = n_valid + n_dead
            # -- 2. additive schema evolution (metadata-only), before
            # either writer's wait returns: DDL commits land before
            # data commits
            for ddl in sorted(d for d in row["ddls"] if d):
                fields = list(parse_ddl(ddl))
                self.target.add_columns(fields)
                self.history.add_columns(fields)
            # 0 keys = no change row: the writers record the batch only
            return {
                "n_docs": max(int(row["nd"] or 0), 1) if n_valid else 0,
                "n_dead": n_dead,
            }

        # -- 2-5. the probe and four independent table applies, on
        # concurrent driver threads: each apply is its own chain of
        # Spark jobs (plan → execute → commit) against a DIFFERENT
        # LakeTable, so driver-side planning/codegen/commit latency
        # overlaps with cluster compute instead of serializing after
        # it.  Merge and history build their plans while the probe
        # runs and wait for its verdict (``ready``) before their first
        # Spark action; the dead-letter apply needs the verdict first.
        # Exactly-once stays per-table (each commit carries the batch
        # manifest).
        stats: dict = {"batch_id": batch_id}

        def ready() -> int:
            return probe.result()["n_docs"]  # the future submitted first below

        def _merge():
            # the merge's per-(bucket, key) max_by reduce IS the LWW:
            # multiple versions of a key collapse map-side (partial
            # aggregation = natural salting for hot keys) before the one
            # merge shuffle — no separate lww_reduce pass needed.
            if not self.target.has_batch(bkey):
                stats["merge"] = merge_into(
                    self.target, changes(), batch_id, buckets, ready=ready
                )

        def _history():
            if not self.history.has_batch(bkey):
                stats["history"] = apply_history(
                    self.history, changes(), batch_id, buckets,
                    check_cols=self.scd2_check_cols,
                    ready=ready,
                )

        def _dead_letter():
            if self.dead_letter.has_batch(bkey):
                return
            if probe.result()["n_dead"] == 0:
                # nothing to quarantine: record the epoch with a
                # manifest-only commit — no Spark job (the common case
                # on a healthy stream, and a per-batch constant saved)
                self.dead_letter.record_batch(bkey, {"rows": 0})
                return
            dead = df.filter(~is_schema & failure.isNotNull())
            dl = dead.select(
                F.lit(_stamp(batch_id)).cast("long").alias("batch_id"),
                "doc_id",
                "lsn",
                "op",
                F.to_json(F.struct(*[c for c in dead.columns])).alias("raw"),
                failure.alias("failure_reason"),
                F.current_timestamp().alias("quarantined_at"),
            )
            self.dead_letter.append(dl, batch_key=bkey)

        def _lineage():
            if self.lineage.has_batch(bkey):
                return
            # one row per kafka partition; min/max_lsn span VALID rows
            # only: a quarantined row was not applied, so its lsn must
            # not extend the applied span the gap checks read
            per_part = df.filter(~is_schema).groupBy("partition").agg(
                F.count("*").alias("_all"),
                F.sum(F.when(failure.isNotNull(), 1).otherwise(0)).alias(
                    "rows_dead_letter"
                ),
                # duplicates among VALID rows only: count_distinct
                # skips null keys/lsns, so a dead row must not count
                F.count_distinct(
                    F.when(failure.isNull(), F.col("doc_id")), F.col("lsn")
                ).alias("_distinct"),
                F.min(F.when(failure.isNull(), F.col("lsn"))).alias("min_lsn"),
                F.max(F.when(failure.isNull(), F.col("lsn"))).alias("max_lsn"),
            )
            lin = per_part.select(
                F.lit(_stamp(batch_id)).cast("long").alias("batch_id"),
                F.col("partition"),
                F.col("_all").cast("long").alias("rows_in"),
                (F.col("_all") - F.col("rows_dead_letter") - F.col("_distinct"))
                .cast("long")
                .alias("rows_deduped"),
                F.col("rows_dead_letter").cast("long"),
                "min_lsn",
                "max_lsn",
                F.current_timestamp().alias("applied_at"),
            )
            self.lineage.append(lin, batch_key=bkey)

        _tables = [self.target, self.history, self.lineage, self.dead_letter]
        _bytes0 = sum(t.bytes_written_total for t in _tables)

        def _timed(fn):
            def run():
                s = _time.perf_counter()
                try:
                    return fn()
                finally:
                    _ph[fn.__name__.lstrip("_")] = round(
                        _time.perf_counter() - s, 3
                    )
            return run

        with ThreadPoolExecutor(max_workers=5) as pool:
            probe = pool.submit(_timed(_probe))
            futures = [probe] + [
                pool.submit(_timed(fn))
                for fn in (_merge, _history, _dead_letter, _lineage)
            ]
            for f in futures:
                f.result()  # re-raise the first failure
        _ph["applies"] = round(_time.perf_counter() - _t0, 3)

        # -- 6. maintenance ----------------------------------------
        self._batches_applied += 1
        cadence_due = bool(
            self.compact_every
            and self._batches_applied % self.compact_every == 0
        )

        def _hot_buckets(t) -> list[int]:
            # manifest-carried byte totals — a dict sum, zero Spark jobs
            return [
                b
                for b, nbytes in t.delta_bytes().items()
                if nbytes > self.max_delta_bytes_per_bucket
            ]

        maintained = {"target": self.target, "history": self.history}
        hot = {
            name: bs
            for name, t in maintained.items()
            for bs in [_hot_buckets(t)]
            if bs
        }
        if cadence_due or hot:
            _tc = _time.perf_counter()

            def _maintain(name: str) -> tuple:
                """One table's maintenance: the buckets it folded and
                compacted (None for an op that did not run)."""
                t = maintained[name]
                if cadence_due:
                    return None, t.compact(
                        self.max_files_per_bucket,
                        max_delta_bytes_per_bucket=(
                            self.max_delta_bytes_per_bucket
                        ),
                    )
                # lane-BYTES trigger between cadences: try the O(lane)
                # MINOR fold first (hot keys collapse to one survivor
                # per id, no base rewrite); escalate to a full bucket
                # rewrite only for buckets still over the threshold —
                # i.e. lanes of genuinely distinct keys
                folded = t.fold_delta_lane(buckets=hot[name])
                if not _hot_buckets(t):
                    return folded, None
                return folded, t.compact(
                    10**9,
                    max_delta_bytes_per_bucket=self.max_delta_bytes_per_bucket,
                )

            # target and history share nothing: one thread per table
            names = list(maintained) if cadence_due else list(hot)
            with ThreadPoolExecutor(max_workers=len(names)) as pool:
                done = dict(zip(names, pool.map(_maintain, names)))
            # per table: the buckets each maintenance op rewrote
            folded = {n: f for n, (f, _) in done.items() if f is not None}
            compacted = {n: c for n, (_, c) in done.items() if c is not None}
            # compaction wall is reported separately: it is the MoR
            # lane's amortized rewrite cost, paid every compact_every
            # batches instead of every batch (BENCH.md steady-state)
            _ph["compact"] = round(_time.perf_counter() - _tc, 3)
            if folded:
                stats["folded"] = folded
            if compacted:
                stats["compacted"] = compacted

        _ph["total"] = round(_time.perf_counter() - _t0, 3)
        # write-amplification instrument: bytes materialised this batch
        # across all four tables (applies + compaction) — O(batch)
        # between compactions.
        _ph["bytes_written"] = (
            sum(t.bytes_written_total for t in _tables) - _bytes0
        )
        self.phase_times.append(_ph)
        # bounded for continuous deployments: a months-long query must
        # not grow driver memory with one dict per trigger
        if len(self.phase_times) > 4096:
            del self.phase_times[:-2048]
        return stats


    # ------------------------------------------------------------------
    def current_state(self) -> DataFrame:
        return self.target.refresh().read()

    def history_df(self) -> DataFrame:
        return self.history.refresh().read()
