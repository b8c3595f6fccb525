"""LakeTable — a minimal ACID lakehouse table format on parquet + JSON metadata.

The target environment has no Iceberg/Delta runtime jar, so the engine
implements the subset of Iceberg semantics the CDC pipeline needs
(SURVEY.md §2.10, §4) over public Spark APIs:

* **Atomic snapshot commits** — a commit's data files are written
  first (one Spark write), then a new versioned metadata JSON is
  claimed by an exclusive-create hard link (atomic on POSIX; table
  creation claims ``v0`` the same way); readers resolve the CURRENT
  pointer and never observe a partial commit.  Mirrors Iceberg's
  snapshot + root-pointer protocol.
* **Hash-bucket partitioning on the merge key** — data lives under
  ``data/bucket=K/``; a MERGE only touches the buckets that contain
  affected keys, and ``replace_buckets`` (compaction) rewrites whole
  buckets.  At 10^10 rows this is the difference between rewriting
  gigabytes and rewriting the whole table: per-commit cost is
  proportional to touched buckets, not table size.  Analogue of the reference's
  ``partition_by``/``cluster_by`` layout (trades_enriched.sql:6-11).
* **Additive schema evolution by metadata rewrite** — ``add_columns``
  touches only the schema in the next metadata version; old parquet
  files are read through the new schema and surface NULLs for the new
  columns (north_star: "rewriting Iceberg metadata").  Analogue of the
  reference's `_extra`/append_new_columns flow (main.py:151-187).
* **Commit manifests for exactly-once** — ``applied_batches`` is part of
  the snapshot metadata, so "data applied" and "batch recorded" commit
  in the same atomic pointer swap.  Analogue of the `_load_id NOT IN`
  guard (fact_futures_order_event.sql:40-42) and verify-before-delete
  (validator.py:203-209).
* **Time travel** — every snapshot is retained; ``read(version=v)``
  reproduces any historical state (time_travel.sql:22-24 analogue,
  storage-level).
* **Small-file compaction** — ``compact()`` rewrites buckets whose file
  count exceeds a threshold (north_rule: compaction triggered by
  small-file thresholds), equivalent to Iceberg rewrite_data_files.
* **Merge-on-read delta lane** — a table created with ``merge_on_read``
  accepts :meth:`merge_append` commits: the batch's NEW rows are
  appended as base files and the batch's row-level mutations land as
  small per-bucket DELTA files; nothing existing is rewritten, so
  per-batch write volume is O(batch), not O(touched buckets).
  ``read()`` resolves deltas on the fly (Iceberg v2 equality-delete /
  Hudi MoR analogue) and ``compact()`` folds them back into the base.
  Two modes:

  - ``patch``: delta rows overwrite ``patch_cols`` of an existing row
    identified by ``row_id_cols`` (SCD2 closure: only
    valid_to_utc/is_current of prior versions ever change);
  - ``upsert``: delta rows are whole new row versions / tombstones per
    ``row_id_cols``; the read-side merge applies the same
    ``order_cols``-guarded LWW as a copy-on-write MERGE (base wins
    ties, strictly-newer delta replaces or deletes).

* **Optimistic-concurrency commits (multi-writer safe)** — a commit
  publishes ``v{N+1}.json`` with an exclusive-create hard link: if
  another writer already took that version number the link fails
  atomically, the commit RELOADS the latest snapshot, re-applies its
  intent (a rebase closure), and retries — exactly Iceberg's
  catalog-CAS loop.  Rebase is automatic for manifest-only commits,
  appends, and disjoint bucket replacements; a replacement whose
  buckets were concurrently rewritten raises :class:`CommitConflict`
  (the caller must recompute from fresh data, as with Iceberg's
  validation failures).  ``CURRENT`` is an advance-only read hint;
  ``current_version()`` walks forward past a stale pointer, so a
  crashed writer can never roll visibility back.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .mor import (  # noqa: F401 — lane system cols re-exported for writers
    DOP_COL,
    DORD_COL,
    DSEQ_COL,
    fold_survivors,
    read_delta_lane,
    resolve_deltas,
    validate_mor,
)

BUCKET_COL = "_bucket"
# routes each row a write stages: "data" -> base files, "delta" -> the lane
LANE_COL = "_lane"

# CAS retry bound: every retry means another writer actually committed
# (system-wide progress), so this only trips on pathological contention.
MAX_COMMIT_RETRIES = 50


class CommitConflict(RuntimeError):
    """A concurrent commit invalidated this one in a way that cannot be
    rebased automatically (e.g. the buckets this writer is replacing
    were rewritten underneath it).  The caller must recompute from the
    fresh table state — same contract as an Iceberg validation failure."""


def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic bucket id for a key: pmod(xxhash64(key), n_buckets).

    xxhash64 is JVM-side and cheap (SURVEY.md F3); the same expression is
    used at write and at merge time so bucket pruning is exact.
    """
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


@dataclass
class Snapshot:
    version: int
    schema: StructType
    n_buckets: int
    key_col: str
    files: dict[int, list[str]]  # bucket -> relative parquet paths
    applied_batches: dict[str, dict[str, Any]]
    parent: int | None
    committed_at: str
    # per-prefix high-watermark over numeric batch-key suffixes: all
    # epochs <= watermarks[prefix] are applied (and their explicit
    # entries may have been compacted away).  Keeps snapshot metadata
    # O(1) in table history instead of one entry per commit forever.
    watermarks: dict[str, int] = field(default_factory=dict)
    # merge-on-read lane: bucket -> [path, size_bytes, dseq] entries,
    # resolved by read() per `merge_on_read` and folded into base by
    # compact().  The size rides the manifest so the read-side broadcast
    # decision and the lane-bytes compaction trigger never stat the
    # filesystem (object-storage requirement); dseq is assigned at
    # COMMIT time inside the retry loop, so two distinct commits can
    # never share a stamp (Iceberg-v2/Delta sequence-number semantics).
    delta_files: dict[int, list[list]] = field(default_factory=dict)
    merge_on_read: dict[str, Any] | None = None


# explicit applied-batch entries retained per prefix beyond the
# watermark (for operator introspection of recent commits)
KEEP_RECENT_BATCHES = 16

_BATCH_KEY_RE = re.compile(r"(.*?)(\d+)")


class LakeTable:
    """A bucketed, snapshot-versioned parquet table with atomic commits.

    The engine's writers (``cdc.merge.merge_into``,
    ``cdc.scd2.apply_history``, ``CdcPipeline``) never touch files; they
    drive the table only through the methods below.  A real-Iceberg
    deployment implements the same surface over a catalog — the table
    gives the Iceberg equivalent of each method:

    =================  =================================================
    Method             Iceberg equivalent
    =================  =================================================
    read               ``spark.table(name)`` (+ ``VERSION AS OF`` for
                       time travel); bucket pruning comes free from the
                       ``bucket(N, key)`` partition transform + predicate
    replace_buckets    copy-on-write ``MERGE INTO``/``REPLACE WHERE``
                       over the bucket predicate (one atomic snapshot
                       commit)
    append             ``df.writeTo(name).append()``
    merge_append       merge-on-read commit: new data files + equality-
                       delete/patch delta files in one snapshot (Iceberg
                       v2 row-level deletes / Hudi MoR delta commit)
    record_batch       snapshot summary properties on an empty commit
                       (``snapshot.summary['batch-key']``)
    has_batch          scan snapshot summaries / a watermark table
    add_columns        ``ALTER TABLE name ADD COLUMNS (...)``
    compact            ``CALL catalog.system.rewrite_data_files(name)``
    fold_delta_lane    minor compaction: ``rewrite_position_delete_files``
                       (Iceberg) / log compaction (Hudi) — collapse the
                       delta lane without rewriting base files
    expire_snapshots   ``CALL catalog.system.expire_snapshots(name)``
    =================  =================================================

    Concurrency contract: commits are optimistic — the writer rebases
    over concurrent commits where semantics allow (appends,
    manifest-only commits, disjoint bucket replacements) and raises
    :class:`CommitConflict` on true conflicts (same-bucket replacement),
    mirroring Iceberg's validation-failure semantics.
    ``has_batch``/``batch_key`` give cross-writer exactly-once.  A
    write whose commit does not happen (conflict, lost races, batch
    already applied) deletes the files it wrote, so no unreferenced
    file is left for ``expire_snapshots`` to miss.

    One write path: every writer stages its files through ``_stage``
    (one Spark write, both lanes), rebases inside ``_commit`` under one
    rule, ``_require_planned``, and publishes through ``_publish_cas``
    — ``create`` too, which raises ``FileExistsError`` if it loses v0.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta_dir = os.path.join(self.path, "metadata")
        self._data_dir = os.path.join(self.path, "data")
        self._snapshot: Snapshot | None = None
        # cumulative bytes this handle has materialised to storage —
        # the write-amplification instrument (bench reports per-batch
        # deltas: merge-on-read stays O(batch), copy-on-write grows
        # with the table; tmpfs walls hide what object-store walls
        # would not)
        self.bytes_written_total = 0

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: StructType,
        key_col: str,
        n_buckets: int = 16,
        merge_on_read: dict[str, Any] | None = None,
    ) -> "LakeTable":
        tbl = cls(spark, path)
        if os.path.exists(tbl._meta_dir):
            raise FileExistsError(f"LakeTable already exists at {path}")
        if merge_on_read is not None:
            validate_mor(merge_on_read, schema, key_col)
        os.makedirs(tbl._meta_dir, exist_ok=True)
        os.makedirs(tbl._data_dir, exist_ok=True)
        meta = {
            "version": 0,
            "schema": schema.json(),
            "n_buckets": n_buckets,
            "key_col": key_col,
            "files": {},
            "applied_batches": {},
            "parent": None,
            "committed_at": _utcnow_iso(),
            "merge_on_read": merge_on_read,
        }
        if not tbl._publish_cas(meta):  # another creator claimed v0
            raise FileExistsError(f"LakeTable already exists at {path}")
        tbl._snapshot = tbl._load_snapshot(0)
        return tbl

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        tbl = cls(spark, path)
        tbl._snapshot = tbl._load_snapshot(tbl.current_version())
        return tbl

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), "metadata", "CURRENT"))

    # ------------------------------------------------------------------
    # metadata plumbing
    # ------------------------------------------------------------------
    def current_version(self) -> int:
        """Latest committed version.  CURRENT is an advance-only HINT:
        two racing writers can publish v5 and v6 but swing the pointer
        in the other order, so walk forward from the hint to the real
        head (normally zero extra stats)."""
        with open(os.path.join(self._meta_dir, "CURRENT")) as f:
            v = int(f.read().strip())
        while os.path.exists(os.path.join(self._meta_dir, f"v{v + 1}.json")):
            v += 1
        return v

    def _load_snapshot(self, version: int) -> Snapshot:
        """Each ``delta_files`` entry is ``[rel_path, size_bytes, dseq]``.
        Tables written before 563b8b7, whose entries were bare path
        strings, are not readable: replay the log into a fresh
        directory."""
        with open(os.path.join(self._meta_dir, f"v{version}.json")) as f:
            m = json.load(f)
        return Snapshot(
            version=m["version"],
            schema=StructType.fromJson(json.loads(m["schema"])),
            n_buckets=m["n_buckets"],
            key_col=m["key_col"],
            files={int(k): v for k, v in m["files"].items()},
            applied_batches=m["applied_batches"],
            parent=m["parent"],
            committed_at=m["committed_at"],
            watermarks=m.get("watermarks", {}),
            delta_files={int(k): v for k, v in m.get("delta_files", {}).items()},
            merge_on_read=m.get("merge_on_read"),
        )

    def _publish_cas(self, meta: dict[str, Any]) -> bool:
        """Compare-and-swap publish: claim v{N}.json by hard link, which
        atomically fails if another writer already committed version N.
        Returns False on conflict (caller reloads + rebases + retries).
        The LINK is the commit point; CURRENT is advanced after."""
        v = meta["version"]
        mpath = os.path.join(self._meta_dir, f"v{v}.json")
        tmp = mpath + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        self._advance_current(v)
        return True

    def _advance_current(self, v: int) -> None:
        """Advance-only pointer update (a racing older writer must not
        roll a newer commit out of the fast path; current_version walks
        forward anyway, so a lost advance costs only extra stats)."""
        cur = os.path.join(self._meta_dir, "CURRENT")
        try:
            with open(cur) as f:
                if int(f.read().strip()) >= v:
                    return
        except (FileNotFoundError, ValueError):
            pass
        tmp = cur + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, cur)

    def refresh(self) -> "LakeTable":
        self._snapshot = self._load_snapshot(self.current_version())
        return self

    @property
    def snapshot(self) -> Snapshot:
        assert self._snapshot is not None
        return self._snapshot

    @property
    def schema(self) -> StructType:
        return self.snapshot.schema

    @property
    def version(self) -> int:
        return self.snapshot.version

    @property
    def n_buckets(self) -> int:
        return self.snapshot.n_buckets

    @property
    def key_col(self) -> str:
        return self.snapshot.key_col

    def bucket_of(self, key_col: str | None = None):
        return bucket_expr(key_col or self.key_col, self.n_buckets)

    def has_batch(self, batch_key: str) -> bool:
        """Exactly-once guard: was this (epoch) batch already committed?

        True if the key has an explicit entry OR its numeric suffix is
        at-or-below its prefix's compaction watermark (watermarks only
        ever advance over contiguously-applied epochs, so a covered key
        was definitely committed)."""
        return _batch_applied(self.snapshot, str(batch_key))

    @property
    def merge_on_read(self) -> dict[str, Any] | None:
        return self.snapshot.merge_on_read

    def file_stats(self) -> dict[int, int]:
        """bucket -> base+delta file count (drives the compaction
        trigger: un-folded delta files are read-side merge work, so
        they count toward the small-file threshold like base files)."""
        out = {b: len(fs) for b, fs in self.snapshot.files.items()}
        for b, fs in self.snapshot.delta_files.items():
            out[b] = out.get(b, 0) + len(fs)
        return out

    def delta_stats(self) -> dict[int, int]:
        """bucket -> un-folded delta file count."""
        return {b: len(fs) for b, fs in self.snapshot.delta_files.items()}

    def delta_bytes(self) -> dict[int, int]:
        """bucket -> un-folded delta-lane bytes, straight from the
        commit manifest (no filesystem stat — object-storage safe).
        Drives the lane-size compaction trigger: a lane that outruns
        the batch-count cadence is folded on BYTES before its read-side
        resolution cost degrades toward the broadcast ceiling."""
        return {
            b: sum(e[1] for e in fs)
            for b, fs in self.snapshot.delta_files.items()
            if fs
        }

    # ------------------------------------------------------------------
    # read
    # ------------------------------------------------------------------
    def read(
        self,
        buckets: Iterable[int] | None = None,
        version: int | None = None,
        with_deltas: bool = True,
    ) -> DataFrame:
        """Scan the table (optionally bucket-pruned / time-travelled).
        ``with_deltas=False`` scans BASE files only (the history apply
        prunes its stored rows with it; not a consistent view).

        Reading through the snapshot schema means files written before a
        schema evolution surface NULL for the added columns — no file
        rewrite needed (additive evolution, SURVEY.md C8).

        Merge-on-read tables resolve their delta lane here: the delta
        side is bounded by the compaction cadence (batch-sized files
        folded every ``compact()``), so the join/merge against it is a
        broadcast-scale map-side operation, never a shuffle of the base.
        """
        snap = self.snapshot if version is None else self._load_snapshot(version)
        sel = set(buckets) if buckets is not None else None
        paths = [
            os.path.join(self.path, rel)
            for b, fs in snap.files.items()
            if sel is None or b in sel
            for rel in fs
        ]
        base = self.spark.read.schema(snap.schema).parquet(*paths) if paths else None
        dfiles = [
            (os.path.join(self.path, e[0]), e[1], e[2])
            for b, fs in snap.delta_files.items()
            if sel is None or b in sel
            for e in fs
        ]
        if not dfiles or not with_deltas:
            return base if paths else self.spark.createDataFrame([], snap.schema)
        return resolve_deltas(
            self.spark, snap.schema, snap.merge_on_read, base, dfiles
        )

    # ------------------------------------------------------------------
    # write / commit
    # ------------------------------------------------------------------
    def _stage(
        self, rows: DataFrame, allowed: Iterable[int] | None = None
    ) -> tuple[dict[int, list[str]], dict[int, list[list]]]:
        """The one file writer.  Materialises ``rows`` in ONE Spark
        write; its ``LANE_COL`` routes each row: ``"data"`` rows become
        base files under ``data/bucket=K/``, ``"delta"`` rows (carrying
        the lane's system columns) delta files under ``delta/bucket=K/``.
        Returns bucket -> relative paths and bucket -> ``[rel_path,
        size_bytes]`` (``_dseq`` is added by the commit loop, never
        written into a file).  Files are staged, then renamed into place
        (same filesystem, cheap); only the metadata publish makes them
        visible.

        The table columns ``rows`` carries are cast to the table's types
        (a missing one reads back null); every file keeps the frame's
        columns, a superset of its lane's read schema (parquet projects
        by name).  A frame carrying BUCKET_COL is taken as
        hash-partitioned by it, so it needs no shuffle; any other is
        repartitioned by bucket with no partition count, so AQE may
        coalesce the stage's tasks.  A bucket is one hash key and lands
        in one task either way, so the write, partitioned by (lane,
        bucket), makes one file per lane and bucket.

        A bucket outside ``allowed`` (the caller's planned set) drops
        every file written and raises ``ValueError``."""
        types = {f.name: f.dataType for f in self.schema.fields}
        rows = rows.select(
            *[F.col(c).cast(types[c]).alias(c) if c in types else c
              for c in rows.columns]
        )
        if BUCKET_COL not in rows.columns:
            rows = rows.withColumn(BUCKET_COL, self.bucket_of()).repartition(
                BUCKET_COL
            )
        files: dict[str, dict[int, list]] = {"data": {}, "delta": {}}
        stage = os.path.join(self.path, f"_stage-{uuid.uuid4().hex}")
        try:
            rows.write.partitionBy(LANE_COL, BUCKET_COL).parquet(stage)
            # <stage>/_lane=<lane>/_bucket=<b>/part-*.parquet
            for src in sorted(glob.glob(os.path.join(stage, "*", "*", "*.parquet"))):
                lane_dir, bucket_dir = src.split(os.sep)[-3:-1]
                lane = lane_dir.split("=", 1)[1]
                b = int(bucket_dir.split("=", 1)[1])
                bdir = os.path.join(lane, f"bucket={b}")
                os.makedirs(os.path.join(self.path, bdir), exist_ok=True)
                rel = os.path.join(bdir, f"{uuid.uuid4().hex}.parquet")
                size = os.path.getsize(src)
                os.replace(src, os.path.join(self.path, rel))
                self.bytes_written_total += size
                files[lane].setdefault(b, []).append(
                    rel if lane == "data" else [rel, size]
                )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        if allowed is not None:
            planned = {int(b) for b in allowed}
            stray = sorted((set(files["data"]) | set(files["delta"])) - planned)
            if stray:
                self._drop_orphans(files["data"])
                self._drop_orphans(files["delta"])
                raise ValueError(
                    f"write produced rows for buckets {stray} outside the "
                    f"planned set {sorted(planned)}"
                )
        return files["data"], files["delta"]

    def _commit(
        self,
        apply_fn,
        batch_key: str | None,
        batch_info: dict[str, Any] | None,
        written: Iterable[dict[int, list]] = (),
    ) -> bool:
        """Optimistic-concurrency commit loop.

        apply_fn(snap) is the REBASE CLOSURE: called against the
        freshest snapshot on every attempt, it returns
        ``(files, schema_or_None, delta_files)`` for the next snapshot
        — or raises
        CommitConflict when the concurrent history cannot be rebased
        over (replace_buckets with a rewritten bucket).  Each retry
        implies another writer committed, so the loop makes system-wide
        progress; MAX_COMMIT_RETRIES only trips on pathological
        contention.

        Returns True if this writer committed; False if `batch_key`
        turned out to be already applied by a concurrent writer (the
        exactly-once guard holds across writers, not just restarts).

        ``written`` holds the files this writer wrote for the commit
        (``{bucket: entries}`` per lane); when the commit does not
        happen — batch already applied, conflict, lost races, any error
        — they are dropped here, since no snapshot references them.

        Every snapshot stores ``removed_files`` — the parent files no
        longer referenced — so expire_snapshots is O(delta commits),
        not O(files on disk)."""
        committed = False
        try:
            for _ in range(MAX_COMMIT_RETRIES):
                snap = self._load_snapshot(self.current_version())
                self._snapshot = snap
                if batch_key is not None and _batch_applied(snap, str(batch_key)):
                    return False
                files, schema, delta_files = apply_fn(snap)
                parent_set = {f for fs in snap.files.values() for f in fs} | {
                    e[0] for fs in snap.delta_files.values() for e in fs
                }
                new_set = {f for fs in files.values() for f in fs} | {
                    e[0] for fs in delta_files.values() for e in fs
                }
                meta = {
                    "version": snap.version + 1,
                    "schema": (schema or snap.schema).json(),
                    "n_buckets": snap.n_buckets,
                    "key_col": snap.key_col,
                    "files": {str(b): fs for b, fs in files.items() if fs},
                    "delta_files": {
                        str(b): fs for b, fs in delta_files.items() if fs
                    },
                    "merge_on_read": snap.merge_on_read,
                    "applied_batches": dict(snap.applied_batches),
                    "parent": snap.version,
                    "committed_at": _utcnow_iso(),
                    "watermarks": dict(snap.watermarks or {}),
                    "removed_files": sorted(parent_set - new_set),
                }
                if batch_key is not None:
                    meta["applied_batches"][str(batch_key)] = {
                        "committed_at": meta["committed_at"],
                        **(batch_info or {}),
                    }
                _compact_applied_batches(meta["applied_batches"], meta["watermarks"])
                if self._publish_cas(meta):
                    committed = True
                    self._snapshot = self._load_snapshot(meta["version"])
                    return True
            raise CommitConflict(
                f"commit on {self.path} lost the CAS race {MAX_COMMIT_RETRIES} "
                "times — pathological writer contention"
            )
        finally:
            if not committed:
                for new_files in written:
                    self._drop_orphans(new_files)

    def _drop_orphans(self, new_files: dict[int, list]) -> None:
        """Remove just-written data files whose commit did not happen
        (conflict or duplicate-batch skip) — they were never visible.
        Accepts plain relative paths (data lane) or [path, size(, dseq)]
        entries (delta lane)."""
        for fs in new_files.values():
            for entry in fs:
                rel = entry if isinstance(entry, str) else entry[0]
                try:
                    os.remove(os.path.join(self.path, rel))
                except OSError:
                    pass

    def _require_planned(
        self,
        base: Snapshot,
        snap: Snapshot,
        buckets: Iterable[int],
        lane_appends_ok: bool,
    ) -> None:
        """The one rebase rule: raise :class:`CommitConflict` unless each
        planned bucket is as at planning (``base``).  With
        ``lane_appends_ok`` (a fold) that means its delta lane was only
        appended to; without it (a bucket replacement) its lane and its
        base files are both unchanged."""
        for b in buckets:
            planned = base.delta_files.get(b, [])
            head = snap.delta_files.get(b, [])
            if lane_appends_ok:
                moved = head[: len(planned)] != planned
            else:
                moved = head != planned or (
                    snap.files.get(b, []) != base.files.get(b, [])
                )
            if moved:
                raise CommitConflict(
                    f"bucket {b} of {self.path} was rewritten concurrently "
                    f"(planned at v{base.version}, head moved); recompute "
                    "from the fresh snapshot and retry the operation"
                )

    def replace_buckets(
        self,
        df: DataFrame,
        buckets: Iterable[int],
        batch_key: str | None = None,
        batch_info: dict[str, Any] | None = None,
    ) -> None:
        """Copy-on-write commit: new content for `buckets`, all other
        buckets' files carried forward untouched.  Data for the replaced
        buckets MUST all be present in df (caller merges old+new).  On a
        merge-on-read table the replaced buckets' DELTA files are
        dropped in the same commit (the caller's df came from a
        delta-resolved read — this is how compaction folds the lane).

        Multi-writer: rebases cleanly over concurrent commits that did
        not touch the replaced buckets (manifest-only commits, appends,
        disjoint replacements); raises CommitConflict if a replaced
        bucket's base-file or delta-file list changed since this writer
        planned (its df was computed from stale bucket contents)."""
        replaced = set(int(b) for b in buckets)
        base = self.snapshot
        new_files, _ = self._stage(
            df.withColumn(LANE_COL, F.lit("data")), allowed=replaced
        )

        def apply(snap: Snapshot):
            self._require_planned(base, snap, replaced, lane_appends_ok=False)
            merged = {b: fs for b, fs in snap.files.items() if b not in replaced}
            for b, fs in new_files.items():
                merged[b] = fs
            deltas = {
                b: fs for b, fs in snap.delta_files.items() if b not in replaced
            }
            return merged, None, deltas

        self._commit(apply, batch_key, batch_info, written=[new_files])

    def append(
        self,
        df: DataFrame,
        batch_key: str | None = None,
        batch_info: dict[str, Any] | None = None,
    ) -> None:
        """Append-only commit (used by history/lineage tables).
        Multi-writer: always rebaseable — new files merge into whatever
        the head snapshot holds."""
        new_files, _ = self._stage(df.withColumn(LANE_COL, F.lit("data")))

        def apply(snap: Snapshot):
            merged = {b: list(fs) for b, fs in snap.files.items()}
            for b, fs in new_files.items():
                merged.setdefault(b, []).extend(fs)
            return merged, None, dict(snap.delta_files)

        self._commit(apply, batch_key, batch_info, written=[new_files])

    def merge_append(
        self,
        rows: DataFrame,
        buckets: Iterable[int],
        batch_key: str | None = None,
        batch_info: dict[str, Any] | None = None,
    ) -> None:
        """Merge-on-read commit: append the ``rows`` whose ``LANE_COL``
        is ``"data"`` as base files and those tagged ``"delta"`` as
        delta-lane files in ONE atomic snapshot — nothing existing is
        rewritten, so the write volume is O(batch).

        Delta rows must already carry the mode's system columns (patch:
        row ids + patch cols; upsert: full row + _op/_ord_ts).
        The commit-order stamp ``_dseq`` is NOT written into the files:
        it is assigned inside the commit retry loop (``snap.version+1``
        re-evaluated per attempt, i.e. AFTER winning the version race)
        and recorded per-file in the snapshot manifest — so a writer
        that loses the CAS race and retries can never publish a stale
        stamp, and two distinct commits can never share one (Iceberg
        v2 / Delta assign sequence numbers at commit time the same
        way).  Written buckets must fall inside `buckets` (the
        caller's planned touch set).

        Both lanes are written in ONE Spark action (:meth:`_stage`).

        Multi-writer: appends rebase over every concurrent commit —
        delta appends, manifest commits, compaction, plain ``append()``.
        Neither mode plans against the base files: patch deltas target
        rows by id, and the read decides which upsert deltas replace a
        base row.  Two concurrent writers patching the SAME row id commit
        in an undefined relative order (same as any optimistic lane) —
        the CDC pipeline serialises per-table applies, so its deltas
        are strictly ordered by ``_dseq``."""
        if self.merge_on_read is None:
            raise ValueError("merge_append requires a merge_on_read table")
        touched = set(int(b) for b in buckets)
        new_files, delta_new = self._stage(rows, allowed=touched)

        def apply(snap: Snapshot):
            merged = {b: list(fs) for b, fs in snap.files.items()}
            for b, fs in new_files.items():
                merged.setdefault(b, []).extend(fs)
            deltas = {b: list(fs) for b, fs in snap.delta_files.items()}
            dseq = snap.version + 1  # assigned AFTER winning the race
            for b, fs in delta_new.items():
                deltas.setdefault(b, []).extend(
                    [rel, size, dseq] for rel, size in fs
                )
            return merged, None, deltas

        self._commit(
            apply, batch_key, batch_info, written=[new_files, delta_new]
        )

    def record_batch(
        self, batch_key: str, batch_info: dict[str, Any] | None = None
    ) -> None:
        """Commit a manifest-only snapshot (e.g. an empty batch is still
        recorded so a restart skips it)."""
        self._commit(
            lambda snap: (dict(snap.files), None, dict(snap.delta_files)),
            batch_key,
            batch_info,
        )

    # ------------------------------------------------------------------
    # schema evolution (metadata-only, additive)
    # ------------------------------------------------------------------
    def add_columns(self, new_fields: StructType | list) -> bool:
        """Additive evolution: append columns to the schema without
        touching any data file.  Idempotent — columns that already exist
        are skipped (re-checked on rebase, so two writers adding the
        same column converge on one).  Returns True if the schema
        changed."""
        fields = list(new_fields)
        existing = {f.name for f in self.schema.fields}
        if all(f.name in existing for f in fields):
            return False

        def apply(snap: Snapshot):
            have = {f.name for f in snap.schema.fields}
            to_add = [f for f in fields if f.name not in have]
            return (
                dict(snap.files),
                StructType(snap.schema.fields + to_add) if to_add else None,
                dict(snap.delta_files),
            )

        self._commit(apply, None, None)
        return True

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def compact(
        self,
        max_files_per_bucket: int = 8,
        max_delta_bytes_per_bucket: int | None = None,
    ) -> list[int]:
        """Rewrite buckets whose small-file count exceeds the threshold
        (north_rule compaction trigger) OR whose un-folded delta lane
        exceeds `max_delta_bytes_per_bucket` (lane-SIZE trigger: a lane
        that outruns the batch-count cadence degrades every read toward
        the forced-broadcast ceiling, so it is folded on bytes too; the
        bytes come from the commit manifest, no filesystem stat).

        Each victim bucket is rewritten from its delta-resolved read as
        ONE base file (``_stage`` repartitions the read by bucket: the
        file source packs many buckets' small files into one split, so
        the read is not bucket-pure), and its lane is dropped in the
        same commit.  Returns the compacted buckets."""
        victims = {
            b for b, n in self.file_stats().items() if n > max_files_per_bucket
        }
        if max_delta_bytes_per_bucket is not None:
            victims |= {
                b
                for b, nbytes in self.delta_bytes().items()
                if nbytes > max_delta_bytes_per_bucket
            }
        victims = sorted(victims)
        if not victims:
            return []
        self.replace_buckets(
            self.read(buckets=victims), victims, batch_info={"compaction": True}
        )
        return victims

    def fold_delta_lane(self, buckets: Iterable[int] | None = None) -> list[int]:
        """MINOR compaction: collapse each victim bucket's delta files
        into ONE survivor file per bucket WITHOUT rewriting any base
        file — O(lane) instead of compact()'s O(bucket contents).  The
        row surviving per id is exactly what read() would resolve
        (kernel: :func:`~.mor.fold_survivors`), tombstones included.
        The folded entry's manifest ``_dseq`` is the MAX of the folded
        commits' stamps, so earliest-commit-wins ties against delta
        commits appended AFTER this fold was planned still resolve in
        true commit order — only possible because the stamp lives in
        the manifest, not the files.  Concurrent delta appends and base
        changes REBASE (planned prefix replaced, tail kept); a
        concurrent rewrite of a victim bucket's lane conflicts.  Returns
        the folded buckets."""
        mor = self.merge_on_read
        if mor is None:
            return []
        base = self.snapshot
        sel = set(int(b) for b in buckets) if buckets is not None else None
        victims = sorted(
            b
            for b, fs in base.delta_files.items()
            if len(fs) >= 2 and (sel is None or b in sel)
        )
        if not victims:
            return []
        dfiles = [
            (os.path.join(self.path, e[0]), e[1], e[2])
            for b in victims
            for e in base.delta_files[b]
        ]
        folded = fold_survivors(
            read_delta_lane(self.spark, base.schema, mor, dfiles), mor
        )
        _, new = self._stage(
            folded.withColumn(LANE_COL, F.lit("delta")), allowed=victims
        )
        maxd = {b: max(e[2] for e in base.delta_files[b]) for b in victims}

        def apply(snap: Snapshot):
            self._require_planned(base, snap, victims, lane_appends_ok=True)
            deltas = {b: list(fs) for b, fs in snap.delta_files.items()}
            for b in victims:
                deltas[b] = [
                    [rel, size, maxd[b]] for rel, size in new.get(b, [])
                ] + deltas.get(b, [])[len(base.delta_files[b]):]
            return dict(snap.files), None, deltas

        self._commit(apply, None, {"delta_fold": True}, written=[new])
        return victims

    def expire_snapshots(
        self,
        keep_last: int = 2,
        full_scan: bool = False,
        retention_seconds: float = 600.0,
    ) -> int:
        """Delete data files referenced only by snapshots older than the
        last `keep_last` (Iceberg expire_snapshots analogue). Metadata
        JSONs are kept (tiny); only unreachable parquet is removed.

        Cost is **O(commits since the last expire)**: every snapshot
        records ``removed_files`` (the parent files it dropped — the
        Iceberg manifest-diff analogue).  A file removed at version r is
        referenced only by versions < r, so once all versions < r are
        expired its removed_files are deletable.  ``metadata/EXPIRED``
        tracks the highest version whose removed_files were processed —
        maintenance state, not table state, so it needs no CAS.

        full_scan=True keeps the old O(files-on-disk) directory walk —
        for tables written before removed_files existed, or to sweep
        orphans left by a writer that crashed between data write and
        commit.  In that mode files younger than `retention_seconds`
        are SKIPPED (Delta VACUUM's retention window): writers move
        data files into place BEFORE the metadata commit, so an
        unreferenced-but-young file may be a concurrent writer's
        in-flight commit, not garbage.  The manifest-driven default
        mode needs no window — removed_files only ever lists files a
        committed snapshot explicitly dropped."""
        import time as _time

        cur = self.current_version()
        marker = os.path.join(self._meta_dir, "EXPIRED")
        try:
            with open(marker) as f:
                done = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            done = 0  # v0 has no parent, hence nothing removed
        removed = 0
        if full_scan:
            live: set[str] = set()
            for v in range(max(0, cur - keep_last + 1), cur + 1):
                s = self._load_snapshot(v)
                for fs in s.files.values():
                    live.update(fs)
                for fs in s.delta_files.values():
                    live.update(e[0] for e in fs)
            horizon = _time.time() - retention_seconds
            for lane in ("data", "delta"):
                lane_dir = os.path.join(self.path, lane)
                if not os.path.isdir(lane_dir):
                    continue
                for bdir in sorted(os.listdir(lane_dir)):
                    full_bdir = os.path.join(lane_dir, bdir)
                    if not os.path.isdir(full_bdir):
                        continue
                    for fname in os.listdir(full_bdir):
                        full = os.path.join(full_bdir, fname)
                        if os.path.join(lane, bdir, fname) in live:
                            continue
                        try:
                            if os.path.getmtime(full) > horizon:
                                continue  # possibly an in-flight writer's
                            os.remove(full)
                            removed += 1
                        except FileNotFoundError:
                            pass
        else:
            for r in range(done + 1, max(done, cur - keep_last + 1) + 1):
                with open(os.path.join(self._meta_dir, f"v{r}.json")) as f:
                    for rel in json.load(f).get("removed_files", []):
                        try:
                            os.remove(os.path.join(self.path, rel))
                            removed += 1
                        except FileNotFoundError:
                            pass
        # advance the marker (never backward) in both modes
        last = max(done, cur - keep_last + 1, 0)
        tmp = marker + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(last))
        os.replace(tmp, marker)
        return removed


def _batch_applied(snap: Snapshot, k: str) -> bool:
    """Shared exactly-once predicate: explicit entry OR covered by the
    prefix's compaction watermark.  Used by has_batch and re-checked
    against the HEAD snapshot inside the commit loop, so the guard
    holds across concurrent writers, not just restarts."""
    if k in snap.applied_batches:
        return True
    m = _BATCH_KEY_RE.fullmatch(k)
    if m:
        return int(m.group(2)) <= (snap.watermarks or {}).get(m.group(1), -1)
    return False


def _compact_applied_batches(
    applied: dict[str, Any], watermarks: dict[str, int]
) -> None:
    """Bound snapshot metadata: advance each prefix's watermark over
    CONTIGUOUSLY-applied numeric epochs (0,1,2,… — the shape Spark's
    foreachBatch and replay_batches produce) and drop explicit entries
    more than KEEP_RECENT_BATCHES below it.  Non-contiguous or
    non-numeric keys are never dropped (the watermark simply does not
    advance past a hole), so has_batch stays exact — this turns commit
    metadata from O(commits) into O(1) without weakening exactly-once.
    """
    by_prefix: dict[str, list[tuple[int, str]]] = {}
    for k in applied:
        m = _BATCH_KEY_RE.fullmatch(k)
        if m:
            by_prefix.setdefault(m.group(1), []).append((int(m.group(2)), k))
    for prefix, items in by_prefix.items():
        present = {n for n, _ in items}
        w = watermarks.get(prefix, -1)
        while w + 1 in present:
            w += 1
        watermarks[prefix] = w
        cutoff = w - KEEP_RECENT_BATCHES
        for n, k in items:
            if n <= cutoff:
                del applied[k]


def _utcnow_iso() -> str:
    return datetime.now(timezone.utc).isoformat()
