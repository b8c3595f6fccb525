"""Merge-on-read delta resolution — LakeTable's merge-on-read scan.

:class:`~.laketable.LakeTable` owns the STORAGE protocol (how commits
are published, how state is reconstructed, where files live).  The
SCAN-side semantics of a delta lane live here; they follow what
Iceberg v2 readers and Hudi MoR readers agree on:

* ``patch`` mode — delta rows overwrite ``patch_cols`` of the base row
  identified by ``row_id_cols``; the latest commit (``_dseq``) wins.
* ``upsert`` mode — delta rows are whole row versions / tombstones;
  one survivor per row id (highest ``order_cols``, earliest ``_dseq``
  at a tie, first arrival by ``_ord_ts`` within a commit), then an
  order-guarded LWW against the base scan (base wins ties).  The read
  decides base membership: a newer survivor replaces or deletes the
  base row holding its id, a live survivor whose id no base row holds
  is an insert, and a tombstone of such an id masks nothing.

Plan shape in both modes: the delta side is reduced first and is
O(batches since last compaction), so Spark's size-based planning
broadcasts it — the base scan never shuffles at read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# delta-lane system columns
DSEQ_COL = "_dseq"        # commit-order stamp: later patches win per row id
DOP_COL = "_op"           # upsert mode: I/U/D of the delta row
DORD_COL = "_ord_ts"      # upsert mode: arrival tie-break at equal order key


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
    :func:`resolve_deltas` re-attaches it at scan time as a literal.

    Upsert delta files written by older versions also carry a
    base-membership flag column, which reads no longer use; they read
    correctly, because the lane is read through this schema and parquet
    projects columns by name."""
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
    stamps.  Every upsert tombstone is kept: it holds its key's delete
    order key, so a later duplicate of an older version stays a no-op,
    and a read hides it whether or not a base row holds its id.  The
    survivors name no base row, so a fold stays valid whatever the base
    files do meanwhile."""
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
    )


def resolve_deltas(
    spark: SparkSession,
    schema: StructType,
    mor: dict,
    base: DataFrame | None,
    dfiles: list[tuple[str, int, int]],
) -> DataFrame:
    """Merge a delta lane into a base scan; returns exactly `schema`.
    ``base`` is None when the read's buckets hold no base file: then
    the result is the lane's live survivors alone, with no join.

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
        if base is None:  # a patch of no base row patches nothing
            return spark.createDataFrame([], schema)
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

    # upsert mode: delta rows are whole row versions / tombstones, and
    # the read decides which of them replace a base row.  One broadcast
    # of the survivors' ids and order keys serves two base joins: a
    # base row stays unless a newer survivor holds its id (which then
    # replaces or deletes it), and a survivor loses if a base row with
    # its id is at least as new (base wins ties; this second scan reads
    # the base's ids and order keys only).  Every other live survivor is
    # read, as an update or as an insert
    live = dr.filter(F.col(DOP_COL) != "D").select(
        *[F.col(f.name) for f in schema.fields]
    )
    if base is None:
        return live
    ocols = list(mor["order_cols"])
    keys = ids + [c for c in ocols if c not in ids]
    lane = bcast(dr.select(*[F.col(c).alias(f"_u_{c}") for c in keys]))
    same_id = [F.col(c) == F.col(f"_u_{c}") for c in ids]
    newer = F.struct(*[F.col(f"_u_{c}") for c in ocols]) > F.struct(
        *[F.col(c) for c in ocols]
    )
    kept = base.join(lane, [*same_id, newer], "left_anti")
    losers = (
        base.select(*keys).join(lane, [*same_id, ~newer], "left_semi").select(*ids)
    )
    return kept.unionByName(live.join(bcast(losers), ids, "left_anti"))
