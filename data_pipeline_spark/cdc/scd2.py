"""SCD2 / bi-temporal history maintenance (SURVEY.md C4-C7, J7, W8).

The history table keeps EVERY (doc_id, lsn) version — including delete
tombstones — with validity ranges:

    valid_from_utc = the version's ingest timestamp
    valid_to_utc   = next version's valid_from - 1s, else END_OF_TIME
    is_current     = last version && op != 'D'

This is the reference's scd2_merge + close_prior_versions flow
(basic_orchestrator/dbt/macros/scd2/scd2_merge.sql:44-108,
close_prior_versions.sql:13-75): inserting a new version must close the
previously-current row, and a late-arriving older version slots into the
middle of the chain (bi-temporal correction) — so closure is recomputed
for every affected key.

Scale design — the apply is ONE bucket exchange from the batch to the
history files.  Stored rows enter it narrow (no payload) and only as
the CHAIN SUFFIX, so the full-width data shuffled per batch is the
batch's own new versions:

  1. per-key ``min(incoming lsn)`` (batch-sized, broadcast);
  2. existing versions projected to (key, lsn, op, valid_from, stored
     validity) — a column-pruned scan — PRUNED to rows with
     lsn >= min(incoming lsn) plus the single insertion-predecessor
     row per key (round 4): closure is invariant for anything older,
     so per-batch closure volume is O(batch) for in-order streams
     instead of O(full history of affected keys);
  3. replay guard: cross-batch re-deliveries of versions already in
     the table collapse inside the closure window, which picks the
     STORED row over a re-delivered copy (``_is_new`` sorts
     stored-first), so no anti-join pass is needed;
  4. the pruned stored rows (null payload) and the new versions (full
     width) are unioned and ``repartition(bucket)``-ed once.  The
     closure is ONE Spark window over ((bucket, key) ORDER BY lsn,
     _is_new, valid_from), whose distribution that bucket exchange
     already satisfies: ``lag(lsn)`` drops duplicate copies of a
     version, the check-cols gate's ``lag(_h)`` drops unchanged ones,
     then ``scd2_close_windowed`` — the same rule the ``scd2_intervals``
     query runs — sets lead(valid_from)-1s; all share the one exchange
     and one sort.  This departs from BASELINE, which names
     ``groupBy().applyInPandas`` for this step: the closure is a Spark
     window, a compiled JVM operator, and the CDC apply path starts no
     Python worker.  The engine's other Arrow UDFs are unchanged
     (``applyInPandasWithState`` in cdc/stateful.py, ``mapInPandas`` in
     sources/xml.py and operators/multimodal.py);
  5. the window's changed rows go straight to a merge-on-read write,
     with no second exchange: surviving new versions (payload and
     validity from the same copy) append as base files already carrying
     final validity, and validity changes of STORED rows become
     per-bucket PATCH delta files — per-batch write volume O(batch),
     where rewriting every touched bucket (copy-on-write) is O(history)
     at uniformly-hashed CDC keys.

The two planning frames (per-key min incoming lsn, insertion
predecessor) hold at most one row per distinct batch key, and both
are always broadcast.  Spark's size estimates do not follow that
content: the predecessor frame's grows with the stored history it is
aggregated from (past ``spark.sql.autoBroadcastJoinThreshold`` after
≈120k stored rows at the benchmark's shape), and a batch Spark cannot
size — one built from local rows, or a streaming source that reports
no statistics — counts as ``spark.sql.defaultSizeInBytes``.  Left to
the estimate, either would plan a sort-merge join that shuffles the
affected keys' stored rows every batch.  The scale boundary is the
batch's distinct keys: both broadcasts must fit the driver and the
executors' memory.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..table.laketable import BUCKET_COL, LANE_COL, LakeTable
from ..table.mor import require_mode
from .schema import END_OF_TIME


def _attr_hash(check_cols: list[str] | None, present: list[str]) -> list[Column]:
    """The check-cols gate's attribute hash as ``[_h]`` (``[]`` when
    the gate is off; C4/J5, reference
    basic_orchestrator/dbt/macros/scd2/scd2_merge.sql:46-50).  A check
    column not in ``present`` (pre-schema-evolution history rows, or a
    column the history does not hold yet) hashes as null — identical
    to a present-but-null value, so evolution does not spuriously open
    versions."""
    if not check_cols:
        return []
    null = F.lit(None).cast("string")
    cols = [F.col(c) if c in present else null for c in check_cols]
    return [F.xxhash64(*cols).alias("_h")]


def apply_history(
    history: LakeTable,
    new_versions: DataFrame,
    batch_id: int | str,
    affected: Iterable[int],
    check_cols: list[str] | None = None,
    ready: Callable[[], bool] | None = None,
) -> dict:
    """Append this batch's versions and re-close affected keys, as one
    merge-on-read commit on a patch-mode history table.

    affected: the buckets the commit may write — a superset is fine
    (``CdcPipeline.apply_batch`` passes every bucket).  Only valid when
    the caller's bucket function matches this table's (same key_col +
    n_buckets); CdcPipeline checks that at construction.

    ready: the wait for the caller's planning probe
    (``CdcPipeline.apply_batch``).  It is called once the plan is
    built, before the first Spark action, and returns whether the batch
    has a change row — one without is recorded without a write.  The
    caller applies the batch's schema changes before it returns.  The
    write selects the history's columns after the wait, so a payload
    column the history still lacks is not written (a column's values
    from batches before its DDL never are), and ``LakeTable._stage``
    casts to the evolved types.  Without ``ready`` the plan is written
    at once.

    `new_versions` is the RAW validated event stream (doc_id, lsn, op,
    ingest_ts; every other column is carried as payload) — it may
    contain at-least-once duplicate deliveries of a (doc_id, lsn) and
    replays of versions already in the table; both collapse here (first
    arrival / stored row wins) with no separate dedup pass: the closure
    window drops duplicate copies by ``lag(lsn)``, and the surviving row
    is the one written, payload included.

    check_cols: optional attr-change gate — when set, a new version
    whose tracked attributes hash-match its lsn predecessor (stored or
    new, late mid-chain arrivals included) opens NO history row (the
    reference's check-cols SCD2); deletes and versions following a
    delete always open one, and stored rows are never dropped.  A check
    column the history does not hold after the wait hashes as null; the
    optimistic plan assumes the batch's DDLs add every check column the
    frame carries, and is rebuilt when one is still missing.  Off by
    default: the lsn-versioned mode keeps every distinct (key, lsn).

    The write (Iceberg v2 equality-delete / Hudi MoR analogue;
    reference analogue: the dbt incremental merge never rewrites the
    table per run, trades_enriched.sql:2-5):

    * the batch's genuinely-new versions (closure survivors with
      ``_is_new``, lane ``data``) are appended as base files, already
      carrying their final validity;
    * validity changes to STORED rows (close-on-insert, bi-temporal
      corrections) become a small (key, lsn, valid_to, is_current)
      PATCH delta per bucket (lane ``delta``);
    * ``LakeTable.read`` resolves patches at scan time (latest _dseq
      per (key, lsn)); ``compact()`` folds them back into the base on
      the small-file trigger, amortising the rewrite.

    Plan shape: ONE ``repartition(bucket)`` exchange, over the union of
    the pruned stored rows and the new versions; the dedup, gate and
    closure window reuses its partitioning, and the write (one frame,
    both lanes) adds no exchange — pinned by tests/test_plans.py.  The
    exchange takes no partition count, so AQE may coalesce it; a bucket
    is one hash key and stays in one task, one file per lane and bucket.
    """
    require_mode(history, "patch")
    key = history.key_col
    derived = (key, "lsn", "op", "valid_from_utc", "valid_to_utc", "is_current")
    payload_cols = [
        c
        for c in new_versions.columns
        if c not in (*derived, "ingest_ts") and not c.startswith("_")
    ]

    nv = new_versions.select(
        key,
        "lsn",
        "op",
        *payload_cols,
        F.col("ingest_ts").alias("valid_from_utc"),
    ).withColumn(BUCKET_COL, history.bucket_of(key))
    affected = [int(b) for b in affected]
    if not affected:
        history.record_batch(str(batch_id), {"versions": 0})
        return {"buckets": []}

    # The closure input skips the delta-lane resolution join: patches
    # only ever rewrite DERIVED columns (valid_to_utc/is_current), and
    # the closure recomputes those from the immutable (lsn, valid_from)
    # chain — the stored values are used solely to filter UNCHANGED
    # rows out of the delta output.  Reading the un-patched base makes
    # that filter conservative (a predecessor row whose patch already
    # landed re-emits an identical-value patch at a higher _dseq —
    # harmless, folded at the next compaction) and saves a per-batch
    # reduce + broadcast-exchange of the whole un-folded lane.
    existing = history.read(buckets=affected, with_deltas=False)

    frame_check = [c for c in check_cols or () if c in payload_cols]
    closure = _closure(history, nv, existing, check_cols, frame_check)
    if ready is not None and not ready():
        history.record_batch(str(batch_id), {"versions": 0})
        return {"buckets": []}
    have = {f.name for f in history.schema.fields}
    hashed = [c for c in frame_check if c in have]
    if hashed != frame_check:  # no job has run: rebuild
        closure = _closure(history, nv, existing, check_cols, hashed)

    # write only rows whose validity actually changed — new versions
    # and neighbours of inserts, O(batch) in an append-mostly stream.
    # Stored validity is exact int64 µs (-1 for new rows).  A surviving
    # NEW row is appended as a base row already carrying its final
    # validity; a changed STORED row becomes a patch delta (stored rows
    # are never re-inserted).  The select runs after the wait: it keeps
    # the columns the history holds now
    out = closure.filter(
        F.col("_is_new")
        | (F.unix_micros("valid_to_utc") != F.col("_stored_vt_us"))
        | (F.col("is_current") != F.col("_stored_ic"))
    ).select(
        *[f.name for f in history.schema.fields if f.name in closure.columns],
        BUCKET_COL,
        F.when(F.col("_is_new"), "data").otherwise("delta").alias(LANE_COL),
    )

    history.merge_append(
        out,
        buckets=affected,
        batch_key=str(batch_id),
        batch_info={"buckets": sorted(affected)},
    )
    return {"buckets": sorted(affected)}


def _closure(
    history: LakeTable,
    nv: DataFrame,
    existing: DataFrame,
    check_cols: list[str] | None,
    hashed: list[str],
) -> DataFrame:
    """``apply_history``'s closure frame over the new versions ``nv``
    and the stored rows ``existing``, with the new versions hashing the
    check columns in ``hashed``."""
    key = history.key_col
    # CHAIN-SUFFIX pruning (round 4): the closure of a stored version
    # can only change if a version is inserted at-or-before it in lsn
    # order, so the closure needs, per key, only the rows with
    # lsn >= min(incoming lsn) PLUS the single insertion predecessor
    # (the largest stored lsn below it — for in-order streams that is
    # exactly the stored current row).  Everything older is closure-
    # invariant and skipped.  This turns per-batch closure volume from
    # O(full history of affected keys) — which at uniformly-hashed CDC
    # batches is the whole table — into O(batch) for in-order streams,
    # while staying exact for mid-chain (bi-temporal) late arrivals.
    min_new = nv.groupBy(key).agg(F.min("lsn").alias("_min_new"))
    # stored rows hash after the join: only the batch keys' rows do
    ex_aff = (
        existing.join(F.broadcast(min_new), key, "inner")
        .select(
            key,
            "lsn",
            "op",
            "valid_from_utc",
            F.coalesce(F.unix_micros("valid_to_utc"), F.lit(-1)).alias(
                "_stored_vt_us"
            ),
            F.coalesce(F.col("is_current"), F.lit(False)).alias("_stored_ic"),
            "_min_new",
            *_attr_hash(check_cols, existing.columns),
        )
    )
    pred = (
        ex_aff.filter(F.col("lsn") < F.col("_min_new"))
        .groupBy(key)
        .agg(F.max("lsn").alias("_pred"))
    )
    ex_narrow = (
        ex_aff.join(F.broadcast(pred), key, "left")
        .filter(
            (F.col("lsn") >= F.col("_min_new"))
            | F.col("lsn").eqNullSafe(F.col("_pred"))
        )
        .drop("_min_new", "_pred")
        .withColumns(
            {"_is_new": F.lit(False), BUCKET_COL: history.bucket_of(key)}
        )
    )
    # ONE exchange carries the batch to the history files: new versions
    # at full width, stored rows narrow (null payload from the union)
    rows = (
        nv.select(
            "*",
            F.lit(-1).cast("long").alias("_stored_vt_us"),
            F.lit(False).alias("_stored_ic"),
            F.lit(True).alias("_is_new"),
            *_attr_hash(check_cols, hashed),
        )
        .unionByName(ex_narrow, allowMissingColumns=True)
        .repartition(BUCKET_COL)
    )

    # at-least-once duplicates of a (key, lsn) — and re-deliveries of
    # stored versions — collapse to ONE version: the stored row when
    # present (_is_new=False sorts first), else the first arrival (min
    # valid_from; nulls last).  The surviving row carries the payload
    # too, so payload and validity come from the same copy.  The
    # window's (bucket, key) partitioning is satisfied by the bucket
    # exchange, and the gate and closure windows reuse its sort: the
    # filters between them keep both.
    order = ["lsn", "_is_new", F.col("valid_from_utc").asc_nulls_last()]
    part = [BUCKET_COL, key]
    w = Window.partitionBy(*part).orderBy(order)
    versions = rows.withColumn("_prev_lsn", F.lag("lsn").over(w)).filter(
        ~F.col("_prev_lsn").eqNullSafe(F.col("lsn"))
    )
    if check_cols:
        # the gate (rule in the docstring): a delete closed the chain,
        # so a re-insert matching the tombstone's all-null hash stays.
        # Equality is transitive: lag over all rows = over survivors
        versions = versions.withColumns(
            {"_prev_h": F.lag("_h").over(w), "_prev_op": F.lag("op").over(w)}
        ).filter(
            ~F.col("_is_new")
            | (F.col("op") == "D")
            | (F.col("_prev_op") == "D")
            | ~F.col("_prev_h").eqNullSafe(F.col("_h"))
        )
    return scd2_close_windowed(versions, part, order, "valid_from_utc", "op")


def scd2_close_windowed(
    df: DataFrame,
    key_col: str | list,
    order_col: str | Column | list,
    valid_from_col: str,
    op_col: str | None = None,
) -> DataFrame:
    """The SCD2 closure rule (close_prior_versions.sql:22,44,55-71), as
    a plain window — used by ``apply_history`` and the ``scd2_intervals``
    query (SURVEY.md W8):

        valid_to   = lead(valid_from) - 1s, else END_OF_TIME
        is_current = last version && op != 'D'

    ``key_col`` (the window's partition) and ``order_col`` are each one
    column or a list (``apply_history`` partitions by (bucket, key))."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    # lead() is evaluated once, into a column both outputs read
    out = df.withColumn("_next_from", F.lead(F.col(valid_from_col)).over(w))
    nxt = F.col("_next_from")
    cur = nxt.isNull()
    if op_col is not None:
        cur = cur & (F.col(op_col) != "D")
    return out.withColumns(
        {
            "valid_to_utc": F.coalesce(
                nxt - F.expr("INTERVAL 1 SECOND"),
                F.lit(END_OF_TIME).cast("timestamp"),
            ),
            "is_current": cur,
        }
    ).drop("_next_from")


def as_of(history_df: DataFrame, ts) -> DataFrame:
    """Time-travel predicate (basic_orchestrator/dbt/macros/time_travel.sql:22-24):
    the version visible at `ts`, excluding delete tombstones.

    DELIBERATE divergence from the reference: the macro uses a strict
    ``valid_to > ts`` while this engine uses a closed ``valid_to >= ts``.
    Versions are closed at next.valid_from − 1 s, so the reference's
    half-open predicate leaves a 1-second hole in which NO version is
    visible (ts exactly on a closed valid_to); the closed interval makes
    every instant in [first valid_from, ∞) resolve to exactly one live
    version.  Pinned by test_as_of_closed_interval_boundary."""
    t = F.lit(ts).cast("timestamp")
    return history_df.filter(
        (F.col("valid_from_utc") <= t) & (F.col("valid_to_utc") >= t) & (F.col("op") != "D")
    )


def current(history_df: DataFrame) -> DataFrame:
    """The `_current` view (fact_futures_order_event_current.sql:67-68)."""
    return history_df.filter(F.col("is_current"))
