from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_pipeline_spark.table import LakeTable

SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n", LongType()),
    ]
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_append_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=4)
    t.append(_mk(spark, [("a", [1, 2], 2), ("b", [3], 1)]))
    got = {r.doc_id: r.tokens for r in t.read().collect()}
    assert got == {"a": [1, 2], "b": [3]}
    assert t.version == 1
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, str(tmp_path / "nope"))


def test_bucket_pruned_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=4)
    rows = [(f"d{i}", [i], 1) for i in range(40)]
    t.append(_mk(spark, rows))
    full = t.read()
    withb = full.withColumn("b", t.bucket_of())
    one_bucket = [r.doc_id for r in withb.filter(F.col("b") == 0).collect()]
    pruned = [r.doc_id for r in t.read(buckets=[0]).collect()]
    assert sorted(pruned) == sorted(one_bucket)


def test_replace_buckets_cow(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=2)
    t.append(_mk(spark, [("a", [1], 1), ("b", [2], 1), ("c", [3], 1)]))
    # find which bucket "a" lives in, replace that bucket with new content
    ab = t.read().withColumn("b", t.bucket_of()).filter(F.col("doc_id") == "a").first().b
    keep = t.read().withColumn("b", t.bucket_of()).filter(F.col("b") == ab).drop("b")
    updated = keep.withColumn(
        "tokens", F.when(F.col("doc_id") == "a", F.array(F.lit(9))).otherwise(F.col("tokens"))
    )
    t.replace_buckets(updated, [ab], batch_key="7")
    got = {r.doc_id: r.tokens for r in t.read().collect()}
    assert got["a"] == [9] and got["b"] == [2] and got["c"] == [3]
    assert t.has_batch("7") and not t.has_batch("8")


def test_time_travel(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=2)
    t.append(_mk(spark, [("a", [1], 1)]))
    v1 = t.version
    t.append(_mk(spark, [("b", [2], 1)]))
    assert t.read().count() == 2
    assert t.read(version=v1).count() == 1
    assert t.read(version=0).count() == 0


def test_schema_evolution_metadata_only(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=2)
    t.append(_mk(spark, [("a", [1], 1)]))
    files_before = dict(t.snapshot.files)
    changed = t.add_columns([StructField("source", StringType())])
    assert changed
    assert dict(t.snapshot.files) == files_before  # no data rewrite
    row = t.read().filter(F.col("doc_id") == "a").first()
    assert row.source is None  # old files surface NULL for the new column
    # idempotent
    assert not t.add_columns([StructField("source", StringType())])
    # new writes carry the column
    new_schema = t.schema
    df = spark.createDataFrame([("z", [5], 1, "s1")], new_schema)
    t.append(df)
    got = {r.doc_id: r.source for r in t.read().collect()}
    assert got == {"a": None, "z": "s1"}


def test_atomic_commit_no_partial_state(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=2)
    t.append(_mk(spark, [("a", [1], 1)]))
    # simulate a crash AFTER data files are written but BEFORE the
    # metadata publish: write orphan files directly into data/
    orphan_dir = os.path.join(t.path, "data", "bucket=0")
    os.makedirs(orphan_dir, exist_ok=True)
    with open(os.path.join(orphan_dir, "orphan.parquet"), "wb") as f:
        f.write(b"not referenced")
    reloaded = LakeTable.load(spark, t.path)
    assert reloaded.read().count() == 1  # orphan invisible


def test_compaction_trigger(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=1)
    for i in range(6):
        t.append(_mk(spark, [(f"d{i}", [i], 1)]))
    assert t.file_stats()[0] >= 6
    compacted = t.compact(max_files_per_bucket=4)
    assert compacted == [0]
    assert t.file_stats()[0] <= 4
    assert t.read().count() == 6


def test_compaction_writes_one_file_per_bucket(spark, tmp_path):
    """A compacted bucket holds ONE base file.  The resolved read is not
    bucket-pure per input partition (the file source packs many
    buckets' small files into one split), so writing it without a
    bucket repartition leaves a file per (task, bucket)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=4)
    for i in range(6):
        t.append(_mk(spark, [(f"d{i}-{j}", [j], j) for j in range(20)]))
    assert t.file_stats() == {0: 6, 1: 6, 2: 6, 3: 6}
    assert t.compact(max_files_per_bucket=1) == [0, 1, 2, 3]
    assert t.file_stats() == {0: 1, 1: 1, 2: 1, 3: 1}
    assert t.read().count() == 120


def test_expire_snapshots_removes_unreachable_files(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=1)
    for i in range(5):
        t.append(_mk(spark, [(f"d{i}", [i], 1)]))
    pre_compact = t.version
    t.compact(max_files_per_bucket=2)
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read().count() == 5  # current snapshot intact
    # time travel into expired files fails at read(), before any job
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        t.read(version=pre_compact)


def test_exactly_once_guard(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "doc_id", n_buckets=2)
    t.append(_mk(spark, [("a", [1], 1)]), batch_key="0")
    if not t.has_batch("0"):
        pytest.fail("manifest lost")
    # replay of batch 0 is skipped by the caller contract
    assert t.has_batch("0")
    t.record_batch("1", {"rows": 0})
    assert t.has_batch("1")
    assert t.read().count() == 1


def test_applied_batches_metadata_stays_bounded(spark, tmp_path):
    """O(1) commit metadata: 300 sequential epoch commits must not grow
    applied_batches (watermark compaction), and has_batch must stay
    exact for compacted epochs."""
    import json
    import os

    from data_pipeline_spark.table.laketable import (
        KEEP_RECENT_BATCHES,
        LakeTable,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", StringType()), StructField("v", LongType())]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, key_col="k", n_buckets=2)
    for epoch in range(300):
        t.record_batch(str(epoch), {"n": epoch})
    assert len(t.snapshot.applied_batches) <= KEEP_RECENT_BATCHES + 1
    assert t.snapshot.watermarks == {"": 299}
    for probe in (0, 5, 150, 283, 299):
        assert t.has_batch(str(probe))
    assert not t.has_batch("300")
    # a NON-contiguous prefix never advances its watermark → exact keys
    t.record_batch("control-7", {})
    assert t.has_batch("control-7") and not t.has_batch("control-6")
    # final snapshot json is small in absolute terms
    v = t.current_version()
    size = os.path.getsize(str(tmp_path / "t" / "metadata" / f"v{v}.json"))
    assert size < 16_384
    # reload from disk sees the same compacted state
    t2 = LakeTable.load(spark, str(tmp_path / "t"))
    assert t2.has_batch("5") and t2.has_batch("control-7")


# ---------------------------------------------------------------------------
# multi-writer CAS (round-3: optimistic concurrency on the CURRENT pointer)
# ---------------------------------------------------------------------------


def test_cas_two_writers_no_lost_update(spark, tmp_path):
    """Two handles loaded at the same version both commit manifest-only
    batches; the loser of the version race must rebase, not overwrite —
    the final head carries BOTH applied batches."""
    path = str(tmp_path / "t")
    LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=2)
    w1 = LakeTable.load(spark, path)
    w2 = LakeTable.load(spark, path)
    w1.record_batch("control-epoch-a")
    w2.record_batch("control-epoch-b")  # stale snapshot → CAS retry
    head = LakeTable.load(spark, path)
    assert head.has_batch("control-epoch-a") and head.has_batch("control-epoch-b")
    assert head.version == 2


def test_cas_append_race_keeps_both(spark, tmp_path):
    path = str(tmp_path / "t")
    LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=2)
    w1 = LakeTable.load(spark, path)
    w2 = LakeTable.load(spark, path)
    w1.append(_mk(spark, [("a", [1], 1)]), batch_key="pipeline-1")
    w2.append(_mk(spark, [("b", [2], 1)]), batch_key="control-1")
    head = LakeTable.load(spark, path)
    got = {r.doc_id for r in head.read().collect()}
    assert got == {"a", "b"}
    assert head.has_batch("pipeline-1") and head.has_batch("control-1")


def test_cas_replace_same_bucket_conflicts(spark, tmp_path):
    """A replacement planned from a stale snapshot whose bucket was
    rewritten concurrently must raise CommitConflict (its df embeds
    stale bucket contents) and leave no orphan data files referenced."""
    from data_pipeline_spark.table.laketable import CommitConflict

    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=1)
    t.append(_mk(spark, [("a", [1], 1)]))
    w1 = LakeTable.load(spark, path)
    w2 = LakeTable.load(spark, path)
    w1.replace_buckets(_mk(spark, [("a", [9], 1)]), [0])
    with pytest.raises(CommitConflict, match="rewritten concurrently"):
        w2.replace_buckets(_mk(spark, [("a", [7], 1)]), [0])
    # an append that loses every CAS attempt must not strand its file
    w3 = LakeTable.load(spark, path)
    w3._publish_cas = lambda meta: False
    with pytest.raises(CommitConflict, match="lost the CAS race"):
        w3.append(_mk(spark, [("c", [5], 1)]))
    head = LakeTable.load(spark, path)
    (row,) = head.read().collect()
    assert row.tokens == [9]  # the first replacement won, nothing lost
    # neither failed write left stray files: every on-disk file is
    # referenced by SOME snapshot (older versions keep their files for
    # time travel; only w2's and w3's never-committed writes must go)
    live = {
        os.path.basename(f)
        for v in range(head.version + 1)
        for fs in head._load_snapshot(v).files.values()
        for f in fs
    }
    on_disk = {
        f
        for d in os.listdir(os.path.join(path, "data"))
        for f in os.listdir(os.path.join(path, "data", d))
    }
    assert on_disk == live


def test_create_losing_the_v0_claim_raises(spark, tmp_path, monkeypatch):
    """Two creators race past the existence check; the one whose v0
    claim loses raises FileExistsError instead of replacing the
    winner's table."""
    path = str(tmp_path / "t")
    winner = StructType(SCHEMA.fields + [StructField("extra", StringType())])
    claim = LakeTable._publish_cas

    def racing_claim(self, meta):
        # the other creator claims v0 first
        assert claim(LakeTable(spark, path), dict(meta, schema=winner.json()))
        return claim(self, meta)

    monkeypatch.setattr(LakeTable, "_publish_cas", racing_claim)
    with pytest.raises(FileExistsError):
        LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=2)
    monkeypatch.undo()
    assert LakeTable.load(spark, path).schema == winner
    assert sorted(os.listdir(os.path.join(path, "metadata"))) == [
        "CURRENT",
        "v0.json",
    ]


def test_cas_disjoint_bucket_replace_rebases(spark, tmp_path):
    """Replacements over DIFFERENT buckets from equally-stale snapshots
    both commit (automatic rebase, like Iceberg's disjoint-partition
    overwrite)."""
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=4)
    rows = [(f"d{i}", [i], 1) for i in range(40)]
    t.append(_mk(spark, rows))
    by_bucket = {
        r.doc_id: r.b for r in t.read().withColumn("b", t.bucket_of()).collect()
    }
    b0 = by_bucket["d0"]
    other = next(b for b in range(4) if b != b0)
    w1 = LakeTable.load(spark, path)
    w2 = LakeTable.load(spark, path)
    new0 = _mk(spark, [(k, [99], 1) for k, b in by_bucket.items() if b == b0])
    new1 = _mk(spark, [(k, [88], 1) for k, b in by_bucket.items() if b == other])
    w1.replace_buckets(new0, [b0])
    w2.replace_buckets(new1, [other])  # stale but disjoint → rebases
    head = LakeTable.load(spark, path)
    got = {r.doc_id: r.tokens[0] for r in head.read().collect()}
    for k, b in by_bucket.items():
        assert got[k] == (99 if b == b0 else 88 if b == other else k_int(k))


def k_int(k: str) -> int:
    return int(k[1:])


def test_cas_duplicate_batch_key_across_writers(spark, tmp_path):
    """Exactly-once must hold across WRITERS: a second writer replaying
    the same epoch key skips its commit and drops its orphan files."""
    path = str(tmp_path / "t")
    LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=2)
    w1 = LakeTable.load(spark, path)
    w2 = LakeTable.load(spark, path)
    w1.append(_mk(spark, [("a", [1], 1)]), batch_key="epoch-5")
    w2.append(_mk(spark, [("a", [1], 1)]), batch_key="epoch-5")  # replay
    head = LakeTable.load(spark, path)
    assert head.read().count() == 1  # not doubled
    assert head.version == 1  # create is v0; one commit, no second
    live = {os.path.basename(f) for fs in head.snapshot.files.values() for f in fs}
    on_disk = {
        f
        for d in os.listdir(os.path.join(path, "data"))
        for f in os.listdir(os.path.join(path, "data", d))
    }
    assert on_disk == live  # w2's files dropped


def test_cas_threaded_contention(spark, tmp_path):
    """N threads committing manifest-only batches through SEPARATE
    handles all land: the retry loop converges under real interleaving
    (worst case: every thread rebases over every other)."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=2)
    handles = [LakeTable.load(spark, path) for _ in range(8)]

    with ThreadPoolExecutor(8) as ex:
        list(
            ex.map(
                lambda i: handles[i].record_batch(f"writer-{i}"),
                range(8),
            )
        )
    head = LakeTable.load(spark, path)
    for i in range(8):
        assert head.has_batch(f"writer-{i}")
    assert head.version == 8  # create is v0; 8 distinct commits


def test_current_version_walks_past_stale_pointer(spark, tmp_path):
    """CURRENT is a hint: if a crashed/raced writer left it behind, the
    reader walks forward to the true head."""
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=2)
    t.record_batch("1")
    t.record_batch("2")
    with open(os.path.join(path, "metadata", "CURRENT"), "w") as f:
        f.write("0")  # simulate regressed pointer
    assert LakeTable.load(spark, path).version == 2


def test_expire_snapshots_removed_files_delta(spark, tmp_path):
    """expire_snapshots works off per-commit removed_files manifests
    (O(delta commits)) and the EXPIRED marker makes a second call a
    no-op; full_scan sweeps orphans the delta path can't know about."""
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, "doc_id", n_buckets=1)
    t.append(_mk(spark, [("a", [1], 1)]))
    for v in range(3):  # each replace drops the previous bucket-0 files
        t.replace_buckets(_mk(spark, [("a", [v], 1)]), [0])
    removed = t.expire_snapshots(keep_last=2)
    assert removed > 0
    assert t.expire_snapshots(keep_last=2) == 0  # marker advanced
    # table still reads fine at head
    (row,) = t.read().collect()
    assert row.tokens == [2]
    # an orphan (crashed writer) is invisible to the delta path but
    # swept by full_scan
    orphan = os.path.join(path, "data", "bucket=0", "orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    assert t.expire_snapshots(keep_last=2) == 0
    # full_scan's retention window protects young unreferenced files (a
    # concurrent writer stages data files BEFORE its commit — sweeping
    # them would publish dangling paths)…
    assert t.expire_snapshots(keep_last=2, full_scan=True) == 0
    assert os.path.exists(orphan)
    # …and sweeps them once aged past the window
    assert (
        t.expire_snapshots(keep_last=2, full_scan=True, retention_seconds=0)
        == 1
    )
    assert not os.path.exists(orphan)

