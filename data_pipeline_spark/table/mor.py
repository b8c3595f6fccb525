"""Merge-on-read delta resolution — LakeTable's merge-on-read scan.

:class:`~.laketable.LakeTable` owns the STORAGE protocol (how commits
are published, how state is reconstructed, where files live).  The
SCAN-side semantics of a delta lane live here; they follow what
Iceberg v2 readers and Hudi MoR readers agree on:

* ``patch`` mode — delta rows overwrite ``patch_cols`` of the base row
  identified by ``row_id_cols``; the latest commit (``_dseq``) wins.
* ``upsert`` mode — delta rows are whole row versions / tombstones;
  one survivor per row id (highest ``order_cols``, base-wins-ties via
  earliest ``_dseq``, first arrival by ``_ord_ts`` within a commit),
  then an order-guarded LWW against the base scan.

Plan shape in both modes: the delta side is reduced first and is
O(batches since last compaction), so Spark's size-based planning
broadcasts it — the base scan never shuffles at read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# delta-lane system columns
DSEQ_COL = "_dseq"        # commit-order stamp: later patches win per row id
DOP_COL = "_op"           # upsert mode: I/U/D of the delta row
DORD_COL = "_ord_ts"      # upsert mode: arrival tie-break at equal order key
DINBASE_COL = "_in_base"  # upsert mode: row id existed in base at write


def validate_mor(cfg: dict, schema: StructType, key_col: str) -> None:
    mode = cfg.get("mode")
    if mode not in ("patch", "upsert"):
        raise ValueError(f"merge_on_read.mode must be patch|upsert, got {mode!r}")
    names = {f.name for f in schema.fields}
    ids = cfg.get("row_id_cols") or []
    if not ids or any(c not in names for c in ids) or ids[0] != key_col:
        raise ValueError(
            f"merge_on_read.row_id_cols {ids} must be schema columns led by "
            f"the bucket key {key_col!r}"
        )
    if mode == "patch":
        pcols = cfg.get("patch_cols") or []
        if not pcols or any(c not in names or c in ids for c in pcols):
            raise ValueError(f"merge_on_read.patch_cols invalid: {pcols}")
    else:
        ocols = cfg.get("order_cols") or []
        if not ocols or any(c not in names for c in ocols):
            raise ValueError(f"merge_on_read.order_cols invalid: {ocols}")


def require_mode(table, mode: str) -> None:
    """Raise unless ``table`` is a ``mode``-mode merge-on-read table.

    The CDC writers have one write path each (upsert for the target,
    patch for history).  A table without that config — one created by
    the removed copy-on-write storage mode — is refused before any
    Spark job runs."""
    mor = table.merge_on_read
    if mor is None or mor.get("mode") != mode:
        raise ValueError(
            f"table {table.path} is not {mode}-mode merge-on-read "
            f"(merge_on_read={mor!r}); copy-on-write storage was removed — "
            "rebuild the table by replaying its change log"
        )


def delta_schema(schema: StructType, mor: dict) -> StructType:
    """On-disk schema of a delta file for the given table schema/mode.

    ``_dseq`` is NOT part of the on-disk schema: the commit-order stamp
    is assigned at COMMIT time (inside the optimistic retry loop, after
    winning the version race) and carried per-file in the commit
    manifest — exactly where Iceberg v2 / Delta put sequence numbers.
    Stamping it into the data file at write time would let a writer
    that loses the CAS race and retries publish a stale stamp (two
    commits sharing one ``_dseq`` → nondeterministic patch resolution).
    :func:`resolve_deltas` re-attaches it at scan time as a literal."""
    by_name = {f.name: f for f in schema.fields}
    if mor["mode"] == "patch":
        return StructType(
            [by_name[c] for c in mor["row_id_cols"]]
            + [by_name[c] for c in mor["patch_cols"]]
        )
    return StructType(
        list(schema.fields)
        + [
            StructField(DOP_COL, StringType()),
            StructField(DORD_COL, TimestampType()),
            StructField(DINBASE_COL, BooleanType()),
        ]
    )


# force-broadcast ceiling for the reduced delta side: Spark's own
# auto-broadcast cuts off at 10 MB, but a shuffle of the (much larger)
# base to join a 10-200 MB delta is exactly the wrong trade — the lane
# is bounded by compaction cadence (and by the pipeline's lane-BYTES
# trigger, which folds the lane long before it could reach this
# ceiling), so a generous explicit ceiling keeps the read map-side
# between folds.  The byte count comes from the commit manifest (each
# delta entry carries its file size), so the decision needs no
# filesystem stat — the property an object-storage deployment needs.
BROADCAST_DELTA_MAX_BYTES = 256 * 1024 * 1024


def read_delta_lane(
    spark: SparkSession,
    schema: StructType,
    mor: dict,
    dfiles: list[tuple[str, int, int]],
) -> DataFrame:
    """Scan a delta lane with its manifest ``_dseq`` attached: one scan
    per commit group (group count bounded by the compaction cadence),
    the stamp as a literal column."""
    if not dfiles:
        raise ValueError("read_delta_lane needs at least one delta file")
    dschema = delta_schema(schema, mor)
    by_seq: dict[int, list[str]] = {}
    for p, _sz, dseq in dfiles:
        by_seq.setdefault(int(dseq), []).append(p)
    groups = [
        spark.read.schema(dschema)
        .parquet(*paths)
        .withColumn(DSEQ_COL, F.lit(dseq))
        for dseq, paths in sorted(by_seq.items())
    ]
    delta = groups[0]
    for g in groups[1:]:
        delta = delta.unionByName(g)
    return delta


def fold_survivors(delta: DataFrame, mor: dict) -> DataFrame:
    """Minor (delta-lane) compaction kernel: reduce a lane scan (from
    :func:`read_delta_lane`) to ONE surviving row per row id — the row
    every read applies, since :func:`resolve_deltas` reduces its lane
    with this same kernel — WITHOUT touching the base (Hudi
    log-compaction / Iceberg delete-file-compaction analogue).  Cost is O(lane), not O(table): the right maintenance
    for hot keys and bursty lanes at 100 TB, where a full bucket
    rewrite per fold is the expensive path.

    Correctness requires the folded file's manifest ``_dseq`` to be the
    MAX of the folded commits' stamps (the caller's job): upsert-mode
    ties against commits appended AFTER the fold was planned resolve
    earliest-commit-wins, and the folded rows ARE the earlier commits.
    Intra-lane ties are resolved here using the original per-commit
    stamps.  Upsert tombstones for rows that were never in base are
    dropped outright (they mask nothing).  ``_in_base`` flags are
    preserved verbatim, so the fold is only valid while the base files
    are unchanged — the committing table enforces that (same conflict
    rule as merge_append)."""
    ids = list(mor["row_id_cols"])
    if mor["mode"] == "patch":
        pcols = list(mor["patch_cols"])
        return (
            delta.groupBy(*ids)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in pcols]), F.col(DSEQ_COL)
                ).alias("_p")
            )
            .select(*ids, *[F.col(f"_p.{c}").alias(c) for c in pcols])
        )
    ocols = list(mor["order_cols"])
    # highest order key wins; at an equal order key the EARLIEST commit
    # wins (it became "the target" first, so a replayed or late
    # duplicate version is a no-op), then first arrival within a commit
    # (merge_into's rule; a null _ord_ts loses)
    pick = F.struct(
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(ocols)],
        (-F.col(DSEQ_COL)).alias("oseq"),
        (-F.unix_micros(DORD_COL)).alias("ots"),
    )
    # the row ids are read back from the survivor row, not the grouping
    # key: a join on them then cannot push a null filter below the
    # aggregate, so resolve_deltas' update and insert sides keep one
    # plan and share one shuffle
    payload = F.struct(*[F.col(c) for c in delta.columns if c != DSEQ_COL])
    return (
        delta.groupBy(*ids)
        .agg(F.max_by(payload, pick).alias("_row"))
        .select("_row.*")
        .filter(F.col(DINBASE_COL) | (F.col(DOP_COL) != "D"))
    )


def resolve_deltas(
    spark: SparkSession,
    schema: StructType,
    mor: dict,
    base: DataFrame,
    dfiles: list[tuple[str, int, int]],
) -> DataFrame:
    """Merge a delta lane into a base scan; returns exactly `schema`.

    ``dfiles`` is the manifest's delta-entry list: (absolute path,
    size-in-bytes, commit sequence number).  Files are scanned per
    ``_dseq`` group (one commit = one group; group count is bounded by
    the compaction cadence) with the sequence number attached as a
    literal — the stamp lives in table metadata, never in the file, so
    an optimistic-commit retry can never publish a stale one."""
    ids = list(mor["row_id_cols"])
    delta = read_delta_lane(spark, schema, mor, dfiles)
    dbytes = sum(sz for _p, sz, _d in dfiles)
    bcast = (
        F.broadcast if dbytes < BROADCAST_DELTA_MAX_BYTES else (lambda df: df)
    )
    # one surviving delta row per id — the same kernel the minor
    # compaction folds with, so a fold never changes what a read sees
    dr = fold_survivors(delta, mor)
    if mor["mode"] == "patch":
        pcols = list(mor["patch_cols"])
        latest = dr.select(
            *ids,
            *[F.col(c).alias(f"_patch_{c}") for c in pcols],
            F.lit(True).alias("_patched"),
        )
        return base.join(bcast(latest), ids, "left").select(
            *[
                F.when(F.col("_patched"), F.col(f"_patch_{f.name}"))
                .otherwise(F.col(f.name))
                .alias(f.name)
                if f.name in pcols
                else F.col(f.name)
                for f in schema.fields
            ]
        )

    # upsert mode: delta rows are whole row versions / tombstones;
    # fold_survivors already dropped tombstones of keys never in base
    ocols = list(mor["order_cols"])
    upd = dr.filter(F.col(DINBASE_COL)).select(
        *[F.col(f.name).alias(f"_u_{f.name}") for f in schema.fields],
        F.col(DOP_COL).alias("_u_op"),
        *[F.col(f"_u_{c}").alias(c) for c in ids],
    )
    ins = dr.filter(~F.col(DINBASE_COL)).select(
        *[F.col(f.name) for f in schema.fields]
    )
    newer = F.col("_u_op").isNotNull() & (
        F.struct(*[F.col(f"_u_{c}") for c in ocols])
        > F.struct(*[F.col(c) for c in ocols])
    )
    merged = (
        base.join(bcast(upd), ids, "left")
        .filter(~(newer & (F.col("_u_op") == "D")).eqNullSafe(F.lit(True)))
        .select(
            *[
                (
                    F.when(newer, F.col(f"_u_{f.name}"))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name not in ids
                    else F.col(f.name)
                )
                for f in schema.fields
            ]
        )
    )
    return merged.unionByName(ins)
