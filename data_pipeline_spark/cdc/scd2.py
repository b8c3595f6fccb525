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

For enormous batches (more changed keys than is broadcastable) the
``BROADCAST_MAX_DOCS`` gate falls back to a shuffle-based variant of
the same algorithm.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..table.laketable import BUCKET_COL, LANE_COL, LakeTable
from ..table.mor import require_mode
from .schema import END_OF_TIME

#: distinct changed keys up to which the per-key planning frames
#: (min incoming lsn, insertion predecessor) are broadcast
BROADCAST_MAX_DOCS = 500_000


def _attr_hash(df: DataFrame, check_cols: list[str] | None) -> list[Column]:
    """The check-cols gate's attribute hash as ``[_h]`` (``[]`` when
    the gate is off; C4/J5, reference
    basic_orchestrator/dbt/macros/scd2/scd2_merge.sql:46-50).  A check
    column missing on one side (pre-schema-evolution history rows)
    hashes as null — identical to a present-but-null value, so
    evolution does not spuriously open versions."""
    if not check_cols:
        return []
    null = F.lit(None).cast("string")
    cols = [F.col(c) if c in df.columns else null for c in check_cols]
    return [F.xxhash64(*cols).alias("_h")]


def apply_history(
    history: LakeTable,
    new_versions: DataFrame,
    batch_id: int | str,
    affected: Iterable[int],
    n_docs: int,
    check_cols: list[str] | None = None,
) -> dict:
    """Append this batch's versions and re-close affected keys, as one
    merge-on-read commit on a patch-mode history table.

    affected/n_docs: the batch plan from the caller's fused probe —
    touched buckets (a superset is fine) and distinct-key count; no
    probe job runs here.  Only valid when the caller's bucket function
    matches this table's (same key_col + n_buckets); CdcPipeline checks
    that at construction.

    `new_versions` is the RAW validated event stream — it may contain
    at-least-once duplicate deliveries of a (doc_id, lsn) and replays of
    versions already in the table; both collapse here (first arrival /
    stored row wins) with no separate dedup pass: the closure window
    drops duplicate copies by ``lag(lsn)``, and the surviving row is
    the one written, payload included.

    check_cols: optional attr-change gate — when set, a new version
    whose tracked attributes hash-match its lsn predecessor (stored or
    new, late mid-chain arrivals included) opens NO history row (the
    reference's check-cols SCD2); deletes and versions following a
    delete always open one, and stored rows are never dropped.  Off by
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
        f.name
        for f in history.schema.fields
        if f.name in new_versions.columns and f.name not in derived
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

    maybe_bcast = F.broadcast if n_docs <= BROADCAST_MAX_DOCS else (lambda df: df)

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
        existing.join(maybe_bcast(min_new), key, "inner")
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
            *_attr_hash(existing, check_cols),
        )
        .persist()
    )
    pred = (
        ex_aff.filter(F.col("lsn") < F.col("_min_new"))
        .groupBy(key)
        .agg(F.max("lsn").alias("_pred"))
    )
    ex_narrow = (
        ex_aff.join(maybe_bcast(pred), key, "left")
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
            *_attr_hash(nv, check_cols),
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
    # write only rows whose validity actually changed — new versions
    # and neighbours of inserts, O(batch) in an append-mostly stream.
    # Stored validity is exact int64 µs (-1 for new rows).  A surviving
    # NEW row is appended as a base row already carrying its final
    # validity; a changed STORED row becomes a patch delta (stored rows
    # are never re-inserted)
    closure = scd2_close_windowed(versions, part, order, "valid_from_utc", "op")
    out = closure.filter(
        F.col("_is_new")
        | (F.unix_micros("valid_to_utc") != F.col("_stored_vt_us"))
        | (F.col("is_current") != F.col("_stored_ic"))
    ).select(
        *[f.name for f in history.schema.fields if f.name in closure.columns],
        BUCKET_COL,
        F.when(F.col("_is_new"), "data").otherwise("delta").alias(LANE_COL),
    )

    try:
        history.merge_append(
            out,
            buckets=affected,
            batch_key=str(batch_id),
            batch_info={"buckets": sorted(affected)},
        )
    finally:
        ex_aff.unpersist()
    # changed_docs is an HLL estimate (±2%) from the caller's probe
    return {"buckets": sorted(affected), "changed_docs": n_docs}


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
