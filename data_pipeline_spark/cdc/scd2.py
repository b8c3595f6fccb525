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

Scale design — the closure runs on a NARROW frame holding only the
CHAIN SUFFIX.  Token payloads never enter the closure, and the
full-width data is shuffled exactly once per batch:

  1. per-key ``min(incoming lsn)`` (batch-sized, broadcast);
  2. existing versions projected to (key, lsn, op, valid_from, stored
     validity) — a column-pruned scan — PRUNED to rows with
     lsn >= min(incoming lsn) plus the single insertion-predecessor
     row per key (round 4): closure is invariant for anything older,
     so per-batch closure volume is O(batch) for in-order streams
     instead of O(full history of affected keys);
  3. replay guard: cross-batch re-deliveries of versions already in
     the table collapse inside the closure and the full-width reduce —
     both pick the STORED row over a re-delivered copy (``_is_new``
     sorts stored-first), so no anti-join pass is needed;
  4. the closure is ONE Spark window over (key ORDER BY lsn, _is_new,
     valid_from): ``lag(lsn)`` drops duplicate copies of a version,
     the check-cols gate's ``lag(_h)`` drops unchanged ones, then
     ``scd2_close_windowed`` — the same rule the ``scd2_intervals``
     query runs — sets lead(valid_from)-1s; all share one exchange and
     one sort.  This departs from BASELINE, which names
     ``groupBy().applyInPandas`` for this step: the closure is a Spark
     window, a compiled JVM operator, and the CDC apply path starts no
     Python worker.  The engine's other Arrow UDFs are unchanged
     (``applyInPandasWithState`` in cdc/stateful.py, ``mapInPandas`` in
     sources/xml.py and operators/multimodal.py);
  5. the closure delta (changed rows only, flagged insert-vs-stored)
     drives a merge-on-read write: new versions append as base files
     already carrying final validity, and validity changes of STORED
     rows become per-bucket PATCH delta files — per-batch write volume
     O(batch), where rewriting every touched bucket (copy-on-write) is
     O(history) at uniformly-hashed CDC keys.

For enormous batches (more changed keys than is broadcastable) the
``BROADCAST_MAX_DOCS`` gate falls back to a shuffle-based variant of
the same algorithm.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..table.laketable import BUCKET_COL, LakeTable
from ..table.mor import require_mode
from .merge import reduce_partitions
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
    stored row wins) with no separate dedup pass: the narrow closure
    window drops duplicate copies by ``lag(lsn)``, and the full-width
    reduce rides the write's repartition-by-bucket exchange, so the
    whole apply still costs ONE full-width shuffle.

    check_cols: optional attr-change gate — when set, a new version
    whose tracked attributes hash-match its lsn predecessor (stored or
    new, late mid-chain arrivals included) opens NO history row (the
    reference's check-cols SCD2); deletes and versions following a
    delete always open one, and stored rows are never dropped.  Off by
    default: the lsn-versioned mode keeps every distinct (key, lsn).

    The write (Iceberg v2 equality-delete / Hudi MoR analogue;
    reference analogue: the dbt incremental merge never rewrites the
    table per run, trades_enriched.sql:2-5):

    * the batch's genuinely-new versions (closure rows flagged
      ``is_insert``) are appended as base files, already carrying their
      final validity;
    * validity changes to STORED rows (close-on-insert, bi-temporal
      corrections) become a small (key, lsn, valid_to, is_current)
      PATCH delta per bucket;
    * ``LakeTable.read`` resolves patches at scan time (latest _dseq
      per (key, lsn)); ``compact()`` folds them back into the base on
      the small-file trigger, amortising the rewrite.

    Plan shape: ONE batch-sized wide shuffle (the repartition-by-bucket
    reduce, whose exchange the (bucket, key, lsn) groupBy and the
    bucketed write both reuse) + the narrow closure join, which adds no
    exchange on the wide side (pinned by tests/test_plans.py).  Dedup,
    gate and closure share the narrow side's one exchange and sort.
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
        .withColumn("_is_new", F.lit(False))
    )
    all_narrow = ex_narrow.unionByName(
        nv.select(
            key,
            "lsn",
            "op",
            "valid_from_utc",
            F.lit(-1).cast("long").alias("_stored_vt_us"),
            F.lit(False).alias("_stored_ic"),
            F.lit(True).alias("_is_new"),
            *_attr_hash(nv, check_cols),
        )
    )

    # at-least-once duplicates of a (key, lsn) — and re-deliveries of
    # stored versions — collapse to ONE version: the stored row when
    # present (_is_new=False sorts first), else the first arrival (min
    # valid_from; nulls last).  The full-width reduce below makes the
    # identical pick.  The gate and closure windows reuse this window's
    # exchange and sort: the filters between them keep both.
    order = ["lsn", "_is_new", F.col("valid_from_utc").asc_nulls_last()]
    w = Window.partitionBy(key).orderBy(order)
    versions = all_narrow.withColumn("_prev_lsn", F.lag("lsn").over(w)).filter(
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
    # DELTA output: only rows whose validity actually changed — new
    # versions and neighbours of inserts, O(batch) in an append-mostly
    # stream.  Stored validity is exact int64 µs (-1 for new rows).
    # The closure feeds BOTH writes (new base rows + patch deltas);
    # without a persist the second write re-executes the narrow scan +
    # closure DAG.  The frame is narrow and batch-sized: memory-only
    # cache, freed in `finally`.
    closure = (
        scd2_close_windowed(versions, key, order, "valid_from_utc", "op")
        .filter(
            F.col("_is_new")
            | (F.unix_micros("valid_to_utc") != F.col("_stored_vt_us"))
            | (F.col("is_current") != F.col("_stored_ic"))
        )
        # is_insert: the surviving copy is NEW — appended as a base row;
        # the rest become patch deltas (stored rows are never re-inserted)
        .select(key, "lsn", "valid_to_utc", "is_current",
                F.col("_is_new").alias("is_insert"))
        .persist()
    )
    nparts = reduce_partitions(history, new_versions.sparkSession)

    # full width, deduped to one row per (key, lsn): first arrival wins
    # (same pick as the closure), on the write's bucket exchange
    nv_full = nv
    for f in history.schema.fields:
        if f.name not in nv_full.columns:
            nv_full = nv_full.withColumn(f.name, F.lit(None).cast(f.dataType))
    width_cols = [f.name for f in history.schema.fields]
    nv_full = nv_full.select(*width_cols, BUCKET_COL)
    rest_cols = [c for c in width_cols if c not in (key, "lsn")]
    packed = F.struct(*[F.col(c) for c in rest_cols])
    reduced = (
        nv_full.repartition(nparts, BUCKET_COL)
        .groupBy(BUCKET_COL, key, "lsn")
        .agg(F.min_by(packed, F.col("valid_from_utc")).alias("_row"))
        .select(F.col(BUCKET_COL), F.col(key), F.col("lsn"), "_row.*")
    )

    # genuinely-new versions keep only closure-flagged inserts (inner
    # join drops cross-batch re-deliveries of stored rows) and pick up
    # their final validity; the narrow side shuffles, the wide side
    # reuses the reduce's partitioning and sort order
    x = (
        closure.filter(F.col("is_insert"))
        .select(key, "lsn", F.col("valid_to_utc").alias("_new_vt"),
                F.col("is_current").alias("_new_ic"))
        .withColumn(BUCKET_COL, history.bucket_of(key))
        .repartition(nparts, F.col(BUCKET_COL))
    )
    new_rows = reduced.join(x, [BUCKET_COL, key, "lsn"], "inner").select(
        *[
            F.col("_new_vt").alias("valid_to_utc")
            if c == "valid_to_utc"
            else F.col("_new_ic").alias("is_current")
            if c == "is_current"
            else F.col(c)
            for c in width_cols
        ],
        F.col(BUCKET_COL),
    )

    patches = closure.filter(~F.col("is_insert")).select(
        key, "lsn", "valid_to_utc", "is_current"
    )

    try:
        history.merge_append(
            new_rows,
            patches,
            buckets=affected,
            batch_key=str(batch_id),
            batch_info={"buckets": sorted(affected)},
            prepartitioned=True,
        )
    finally:
        closure.unpersist()
        ex_aff.unpersist()
    # changed_docs is an HLL estimate (±2%) from the caller's probe
    return {"buckets": sorted(affected), "changed_docs": n_docs}


def scd2_close_windowed(
    df: DataFrame,
    key_col: str,
    order_col: str | Column | list,
    valid_from_col: str,
    op_col: str | None = None,
) -> DataFrame:
    """The SCD2 closure rule (close_prior_versions.sql:22,44,55-71), as
    a plain window — used by ``apply_history`` and the ``scd2_intervals``
    query (SURVEY.md W8):

        valid_to   = lead(valid_from) - 1s, else END_OF_TIME
        is_current = last version && op != 'D'

    ``order_col`` is one column or a list (Window.orderBy's argument)."""
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
