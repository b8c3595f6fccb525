"""End-to-end replay-equivalence tests: engine vs pandas oracle.

The analogue of the reference's snapshot-fixture + idempotency tests
(docs/identity.md:243-256): replay a deterministic change log, assert
the final table matches the oracle row-by-row with EXACT token-array
equality per doc_id (BASELINE.json invariant).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.cdc.oracle import (
    assert_history_equal,
    assert_tokens_equal,
    expected_final_state,
    load_log,
)
from data_pipeline_spark.cdc import scd2
from data_pipeline_spark.cdc.pipeline import CdcPipeline
from data_pipeline_spark.cdc.stream import replay_batches
from data_pipeline_spark.table import mor


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    from data_pipeline_spark.cdc.synth import generate_change_log

    d = tmp_path_factory.mktemp("cdclog")
    stats = generate_change_log(str(d), n_docs=300, seed=7, n_files=6)
    assert stats["total_events"] > 1500
    return str(d)


def _final_pandas(pipeline):
    df = pipeline.current_state().select("doc_id", "tokens", "n_tok", "source")
    return df.toPandas()


@pytest.mark.parametrize("plan", ["broadcast", "shuffle"])
def test_replay_matches_oracle(spark, log_dir, tmp_path, monkeypatch, plan):
    # shuffle: no batch is small enough to broadcast, so the history
    # apply's planning frames and the MoR read's delta lane take their
    # non-broadcast fallbacks
    if plan == "shuffle":
        monkeypatch.setattr(scd2, "BROADCAST_MAX_DOCS", 0)
        monkeypatch.setattr(mor, "BROADCAST_DELTA_MAX_BYTES", 0)
    # compact_every=2: a mid-replay lane fold
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=8, compact_every=2)
    n = replay_batches(spark, log_dir, pipe, files_per_batch=2)
    assert n == 3
    log = load_log(log_dir)
    assert_tokens_equal(_final_pandas(pipe), expected_final_state(log))
    # history closure invariant: exactly one current row per live doc
    cur = pipe.history_df().filter("is_current").groupBy("doc_id").count()
    assert cur.filter("count > 1").count() == 0
    assert_history_equal(pipe, log)


@pytest.mark.parametrize("plan", ["broadcast", "shuffle"])
def test_replay_over_compacted_target_matches_oracle(
    spark, log_dir, tmp_path, monkeypatch, plan
):
    """Merges into a compacted target: with one file allowed per bucket,
    the compaction after batch 2 writes the target's base files, so
    batch 3 merges into 8 base files and the final read resolves base
    plus lane (8 delta files)."""
    if plan == "shuffle":
        monkeypatch.setattr(scd2, "BROADCAST_MAX_DOCS", 0)
        monkeypatch.setattr(mor, "BROADCAST_DELTA_MAX_BYTES", 0)
    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"), n_buckets=8, compact_every=2,
        max_files_per_bucket=1,
    )
    assert replay_batches(spark, log_dir, pipe, files_per_batch=2) == 3
    target = pipe.target.snapshot
    assert sum(map(len, target.files.values())) == 8
    assert sum(map(len, target.delta_files.values())) == 8
    log = load_log(log_dir)
    assert_tokens_equal(_final_pandas(pipe), expected_final_state(log))
    cur = pipe.history_df().filter("is_current").groupBy("doc_id").count()
    assert cur.filter("count > 1").count() == 0
    assert_history_equal(pipe, log)


def test_replay_single_big_batch_same_result(spark, log_dir, tmp_path):
    """Batch boundaries must not affect the final state (LWW within and
    across batches agree)."""
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=8, compact_every=0)
    replay_batches(spark, log_dir, pipe, files_per_batch=100)
    log = load_log(log_dir)
    assert_tokens_equal(_final_pandas(pipe), expected_final_state(log))
    assert_history_equal(pipe, log)


def test_idempotent_replay_of_same_batch(spark, log_dir, tmp_path):
    """Reference idempotency test: apply the same epoch twice → state
    unchanged (manifest skip + lsn-guarded MERGE)."""
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=8, compact_every=0)
    replay_batches(spark, log_dir, pipe, files_per_batch=2)
    v_before = pipe.target.version
    # replay every batch a second time with the same epoch ids
    replay_batches(spark, log_dir, pipe, files_per_batch=2, start_batch_id=0)
    log = load_log(log_dir)
    assert_tokens_equal(_final_pandas(pipe), expected_final_state(log))
    assert_history_equal(pipe, log)
    # manifest guard: no new data commits for target merges
    applied = pipe.target.snapshot.applied_batches
    assert set(applied.keys()) == {"0", "1", "2"}
    assert pipe.target.version >= v_before


def test_schema_evolution_mid_stream(spark, log_dir, tmp_path):
    """`source` column appears mid-stream via a SCHEMA record: target
    starts without it, ends with it; pre-evolution rows read NULL."""
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=8, compact_every=0)
    files = sorted(__import__("glob").glob(log_dir + "/*.parquet"))
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    first = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(files[0])
    pipe.apply_batch(first, 0)
    assert "source" not in [f.name for f in pipe.target.schema.fields]
    for i, f in enumerate(files[1:], start=1):
        pipe.apply_batch(spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(f), i)
    assert "source" in [f.name for f in pipe.target.schema.fields]
    final = pipe.current_state()
    assert final.filter(F.col("source").isNotNull()).count() > 0
    expected = expected_final_state(load_log(log_dir))
    assert_tokens_equal(_final_pandas(pipe), expected)


def test_probe_runs_beside_the_writers_plan_building(spark, tmp_path, monkeypatch):
    """The planning probe runs on its own thread while merge and history
    build their plans: its collect blocks until both writers have
    reached their wait for its verdict.  A probe moved back in front of
    the writers never sees them arrive, and the batch fails."""
    import threading

    from data_pipeline_spark.cdc import pipeline as pipeline_mod
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    waiting = {"merge": threading.Event(), "history": threading.Event()}

    def at_wait(name, writer):
        def wrapper(*args, ready, **kwargs):
            def signalled():
                waiting[name].set()
                return ready()

            return writer(*args, ready=signalled, **kwargs)

        return wrapper

    monkeypatch.setattr(
        pipeline_mod, "merge_into", at_wait("merge", pipeline_mod.merge_into)
    )
    monkeypatch.setattr(
        pipeline_mod, "apply_history",
        at_wait("history", pipeline_mod.apply_history),
    )
    batch = spark.createDataFrame(
        [(f"d{i}", i, "I", [i], 1, None, None, 0, None) for i in range(10)],
        CHANGE_EVENT_SCHEMA,
    ).withColumn("ingest_ts", F.current_timestamp())
    frame = type(batch)  # the session's DataFrame class, which the probe uses
    first, probed = frame.first, []

    def probe_first(self):
        for name, reached in waiting.items():
            assert reached.wait(timeout=60), f"{name} never reached its wait"
        probed.append(self)
        return first(self)

    monkeypatch.setattr(frame, "first", probe_first)
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0)
    pipe.apply_batch(batch, 0)
    monkeypatch.undo()
    assert len(probed) == 1
    assert pipe.current_state().count() == 10
    assert pipe.history_df().filter("is_current").count() == 10


def test_ddl_batch_plans_once_and_projects_at_write(spark, tmp_path, monkeypatch):
    """Both writers plan the batch before its SCHEMA record is applied
    and drop, at write time, the payload columns the table still lacks:
    `source` values sent before the column's DDL batch are never
    written, the DDL batch's own are, and no batch is planned twice."""
    import datetime

    from data_pipeline_spark.cdc import pipeline as pipeline_mod
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    entered, batch = [], [0]

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            entered.append((name, batch[0]))
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(
        pipeline_mod, "merge_into", counted("merge", pipeline_mod.merge_into)
    )
    monkeypatch.setattr(
        pipeline_mod, "apply_history",
        counted("history", pipeline_mod.apply_history),
    )
    # one closure per plan the history apply builds
    monkeypatch.setattr(
        scd2, "scd2_close_windowed",
        counted("closure", scd2.scd2_close_windowed),
    )
    ts = lambda s: datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0)
    mk = lambda rows: spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    pipe.apply_batch(
        mk([
            ("a", 1, "I", [1], 1, "early", None, 0, ts(1)),
            ("b", 1, "I", [2], 1, "early", None, 0, ts(1)),
        ]),
        0,
    )
    assert "source" not in pipe.target.schema.fieldNames()
    batch[0] = 1
    pipe.apply_batch(
        mk([
            ("__schema__", 2, "SCHEMA", None, None, None, "source:string", 0, ts(2)),
            ("a", 3, "U", [3], 1, "late", None, 0, ts(3)),
            ("c", 3, "I", [4], 1, "late", None, 0, ts(3)),
        ]),
        1,
    )
    assert sorted(entered, key=lambda e: e[::-1]) == [
        (name, b) for b in (0, 1) for name in ("closure", "history", "merge")
    ]
    target = {r.doc_id: r.source for r in pipe.current_state().collect()}
    assert target == {"a": "late", "b": None, "c": "late"}
    history = {(r.doc_id, r.lsn): r.source for r in pipe.history_df().collect()}
    assert history == {
        ("a", 1): None, ("b", 1): None, ("a", 3): "late", ("c", 3): "late"
    }


def test_dead_letter_and_lineage(spark, tmp_path):
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    rows = [
        ("d1", 1, "I", [1, 2], 2, None, None, 0, None),
        ("d1", 2, "X", [1], 1, None, None, 0, None),     # unknown op
        (None, 3, "I", [1], 1, None, None, 1, None),     # null key
        ("d2", None, "I", [1], 1, None, None, 1, None),  # null lsn
        ("d3", 4, "U", None, None, None, None, 1, None), # null payload
    ]
    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=4, compact_every=0)
    pipe.apply_batch(df, 0)
    dl = pipe.dead_letter.read().toPandas()
    assert sorted(dl["failure_reason"]) == [
        "null_key", "null_lsn", "null_payload", "unknown_op",
    ]
    assert pipe.current_state().count() == 1  # only d1 survives
    lin = pipe.lineage.read().toPandas()
    assert lin["rows_in"].sum() == 5
    assert lin["rows_dead_letter"].sum() == 4


def test_lineage_rows_are_per_partition(spark, tmp_path):
    """Every batch writes one lineage row per kafka partition, with
    exact duplicate counts and the applied lsn span of that partition
    (the shape ControlRunner's gap/completeness/freshness jobs group
    by).  Dead-lettered rows are never counted as duplicates, even
    when their null key or lsn makes them invisible to a distinct
    count."""
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    rows = [
        ("d1", 1, "I", [1], 1, None, None, 0, None),
        ("d1", 1, "I", [1], 1, None, None, 0, None),  # redelivery
        ("d1", 2, "U", [2], 1, None, None, 0, None),
        ("d2", 5, "I", [9], 1, None, None, 3, None),
        ("d2", 6, "D", None, None, None, None, 3, None),
        (None, 7, "I", [1], 1, None, None, 5, None),  # null key
        ("d3", None, "I", [1], 1, None, None, 5, None),  # null lsn
        ("d4", 8, "I", None, None, None, None, 5, None),  # null payload
    ]
    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=4, compact_every=0)
    pipe.apply_batch(df, 0)
    pipe.apply_batch(df, 0)  # replayed epoch: no second set of rows
    got = sorted(
        (r.partition, r.rows_in, r.rows_deduped, r.rows_dead_letter,
         r.min_lsn, r.max_lsn)
        for r in pipe.lineage.refresh().read().collect()
    )
    assert got == [
        (0, 3, 1, 0, 1, 2),
        (3, 2, 0, 0, 5, 6),
        (5, 3, 0, 3, None, None),
    ]


def test_history_bucketed_unlike_target_is_refused(spark, tmp_path):
    """One probe plans both tables, so a loaded history whose buckets
    differ from the target's fails at construction, not mid-batch."""
    import shutil

    wh = str(tmp_path / "wh")
    pipe = CdcPipeline(spark, wh, n_buckets=4)
    shutil.rmtree(pipe.target.path)  # a new 8-bucket target beside it
    with pytest.raises(ValueError, match="bucketed alike"):
        CdcPipeline(spark, wh, n_buckets=8)


def test_lww_and_delete_semantics(spark, tmp_path):
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    base_ts = __import__("datetime").datetime(2024, 1, 1)

    def ts(s):
        return base_ts + __import__("datetime").timedelta(seconds=s)

    rows = [
        ("a", 10, "I", [1], 1, None, None, 0, ts(10)),
        ("a", 20, "U", [2], 1, None, None, 0, ts(20)),
        ("a", 20, "U", [2], 1, None, None, 0, ts(99)),   # duplicate delivery
        ("b", 11, "I", [3], 1, None, None, 0, ts(11)),
        ("b", 21, "D", None, None, None, None, 0, ts(21)),
        ("c", 12, "I", [4], 1, None, None, 0, ts(12)),
        ("c", 22, "D", None, None, None, None, 0, ts(22)),
        ("c", 32, "I", [5], 1, None, None, 0, ts(32)),   # re-insert after delete
    ]
    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=4, compact_every=0)
    pipe.apply_batch(df, 0)
    got = {r.doc_id: (r.tokens, r.lsn) for r in pipe.current_state().collect()}
    assert got == {"a": ([2], 20), "c": ([5], 32)}  # b deleted, c re-inserted

    # a late batch with an OLDER lsn must be a no-op (T4)
    late = spark.createDataFrame(
        [("a", 15, "U", [9], 1, None, None, 0, ts(15))], CHANGE_EVENT_SCHEMA
    )
    pipe.apply_batch(late, 1)
    got = {r.doc_id: r.tokens for r in pipe.current_state().collect()}
    assert got["a"] == [2]


def test_same_lsn_distinct_payload_tiebreak_is_deterministic(spark, tmp_path):
    """Malformed upstream: two DISTINCT payloads under the same
    (doc_id, lsn).  The merge and the history apply must both pick the
    FIRST arrival by ingest_ts (the oracle's rule) — deterministically,
    regardless of partitioning or arrival order within the batch — so
    the target row and the history's current row agree.  ``lww_reduce``
    (salted or not) keeps that copy too, so a caller that pre-reduces
    with it gets the same target."""
    from data_pipeline_spark.cdc.dedup import lww_reduce
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    base_ts = __import__("datetime").datetime(2024, 1, 1)

    def ts(s):
        return base_ts + __import__("datetime").timedelta(seconds=s)

    rows = [
        ("x", 5, "I", [7, 7], 2, None, None, 0, ts(50)),   # later arrival
        ("x", 5, "I", [1, 1], 2, None, None, 0, ts(10)),   # earlier arrival
    ]
    for attempt, order in enumerate([rows, rows[::-1]]):
        df = spark.createDataFrame(order, CHANGE_EVENT_SCHEMA).repartition(4)
        pipe = CdcPipeline(
            spark, str(tmp_path / f"wh{attempt}"), n_buckets=4, compact_every=0
        )
        pipe.apply_batch(df, 0)
        (row,) = pipe.current_state().collect()
        assert row.tokens == [1, 1], "first arrival by ingest_ts must win"
        (cur,) = pipe.history_df().filter("is_current").collect()
        assert cur.tokens == row.tokens, "history's current row != target row"
        for salt_buckets in (1, 16):
            (kept,) = lww_reduce(df, salt_buckets=salt_buckets).collect()
            assert kept.tokens == row.tokens, "lww_reduce kept another copy"


def test_bitemporal_midchain_late_arrival_closure(spark, tmp_path):
    """C6 pin for the round-4 chain-suffix pruning: a LATE version whose
    lsn slots mid-chain must re-close its predecessor (which the pruned
    closure only sees via the insertion-predecessor row) and itself close
    at the successor's valid_from.  Exercised across batches so the
    predecessor is a STORED row patched through the MoR delta lane.

    Also pins the closure's duplicate rule: a second copy of lsn 10 in
    the same batch loses to the earliest arrival, and a re-delivery of
    the stored lsn 30 leaves the stored row (and the valid_to it gives
    its predecessor) untouched."""
    import datetime

    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA, END_OF_TIME

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0)
    pipe.apply_batch(
        spark.createDataFrame(
            [
                ("k", 10, "I", [1], 1, None, None, 0, ts(1)),
                ("k", 10, "I", [1], 1, None, None, 0, ts(2)),  # later copy
                ("k", 30, "U", [3], 1, None, None, 0, ts(3)),
            ],
            CHANGE_EVENT_SCHEMA,
        ),
        0,
    )
    # late mid-chain arrival: lsn 20 lands AFTER lsn 30 was applied,
    # beside a re-delivery of the stored lsn 30
    pipe.apply_batch(
        spark.createDataFrame(
            [
                ("k", 20, "U", [2], 1, None, None, 0, ts(99)),
                ("k", 30, "U", [3], 1, None, None, 0, ts(120)),  # re-delivery
            ],
            CHANGE_EVENT_SCHEMA,
        ),
        1,
    )
    rows = pipe.history_df().collect()
    hist = {r.lsn: (r.valid_from_utc, r.valid_to_utc, r.is_current) for r in rows}
    eot = datetime.datetime.fromisoformat(END_OF_TIME)
    assert len(rows) == 3
    assert hist == {
        10: (ts(1), ts(99) - datetime.timedelta(seconds=1), False),
        20: (ts(99), ts(3) - datetime.timedelta(seconds=1), False),
        30: (ts(3), eot, True),
    }


def test_history_duplicate_pick_keeps_first_arrival_payload(spark, tmp_path):
    """Two copies of (d1, lsn 5) with distinct tokens in one batch: the
    history row carries the FIRST arrival's tokens, with the validity
    of that same copy.  A re-delivery of a stored version with changed
    tokens leaves the stored row as it was."""
    import datetime

    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0)
    pipe.apply_batch(
        spark.createDataFrame(
            [
                ("d1", 3, "I", [3], 1, None, None, 0, ts(1)),
                ("d1", 4, "U", [4], 1, None, None, 0, ts(2)),
            ],
            CHANGE_EVENT_SCHEMA,
        ),
        0,
    )
    stored = pipe.history_df().filter("lsn = 3").collect()
    pipe.apply_batch(
        spark.createDataFrame(
            [
                ("d1", 5, "U", [6, 6], 2, None, None, 0, ts(11)),  # later copy
                ("d1", 5, "U", [5, 5], 2, None, None, 0, ts(10)),  # first arrival
                ("d1", 3, "I", [9], 1, None, None, 1, ts(12)),  # changed re-delivery
            ],
            CHANGE_EVENT_SCHEMA,
        ).repartition(3),
        1,
    )
    hist = pipe.history_df()
    (v5,) = hist.filter("lsn = 5").collect()
    assert (v5.tokens, v5.valid_from_utc, v5.is_current) == ([5, 5], ts(10), True)
    assert hist.filter("lsn = 3").collect() == stored
    assert stored[0].tokens == [3]


@pytest.mark.parametrize("shuffle_partitions", [4, 64])
def test_one_file_per_bucket_whatever_the_shuffle_partitions(
    spark, tmp_path, shuffle_partitions
):
    """The CDC write stages take their partition count from
    spark.sql.shuffle.partitions, which AQE may coalesce; a bucket is
    one hash key, so it lands in one task either way.  With fewer
    partitions than buckets and with many more, each touched bucket
    gains one target delta file, one history base file and at most one
    history patch file per batch, and compaction leaves one base file
    per bucket."""
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    def counts(table):
        snap = table.refresh().snapshot
        base = {b: len(fs) for b, fs in snap.files.items()}
        delta = {b: len(fs) for b, fs in snap.delta_files.items()}
        return base, delta

    def gained(before, after):
        return {b: n - before.get(b, 0) for b, n in after.items()
                if n != before.get(b, 0)}

    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(shuffle_partitions))
    try:
        pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=8, compact_every=0)
        for batch_id in range(2):  # inserts, then an update of every key
            rows = [
                (f"d{i}", 10 * batch_id + 1, "IU"[batch_id], [i], 1, None, None,
                 i % 3, None)
                for i in range(64)
            ]
            t_base, t_delta = counts(pipe.target)
            h_base, h_delta = counts(pipe.history)
            pipe.apply_batch(
                spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
                .withColumn("ingest_ts", F.current_timestamp())
                .repartition(5),
                batch_id,
            )
            t_base2, t_delta2 = counts(pipe.target)
            h_base2, h_delta2 = counts(pipe.history)
            every = {b: 1 for b in range(8)}  # 64 keys touch all 8 buckets
            assert gained(t_base, t_base2) == {}
            assert gained(t_delta, t_delta2) == every
            assert gained(h_base, h_base2) == every
            patches = gained(h_delta, h_delta2)
            assert set(patches.values()) <= {1}
            assert bool(patches) == (batch_id == 1)
        for table in (pipe.target, pipe.history):
            assert table.compact(max_files_per_bucket=0) == list(range(8))
            assert counts(table) == ({b: 1 for b in range(8)}, {})
        assert pipe.current_state().count() == 64
        assert pipe.history_df().count() == 128
    finally:
        spark.conf.set(conf, old)


def test_as_of_closed_interval_boundary(spark, tmp_path):
    """as_of uses a CLOSED valid_to (>=), diverging from the reference
    macro's strict `>` (time_travel.sql:22-24): with −1 s closure the
    strict form has a 1-second visibility hole exactly on a closed
    valid_to.  Every instant must resolve to exactly one version."""
    import datetime

    from data_pipeline_spark.cdc.scd2 import as_of
    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("k", 1, "I", [1], 1, None, None, 0, t0),
        ("k", 2, "U", [2], 1, None, None, 0, t0 + datetime.timedelta(seconds=10)),
    ]
    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    pipe = CdcPipeline(spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0)
    pipe.apply_batch(df, 0)
    hist = pipe.history_df()
    # version 1 is closed at t0+9s; the boundary instant itself must
    # still see version 1 (closed interval), and t0+10s sees version 2
    at_boundary = as_of(hist, t0 + datetime.timedelta(seconds=9)).collect()
    assert [r.lsn for r in at_boundary] == [1]
    at_next = as_of(hist, t0 + datetime.timedelta(seconds=10)).collect()
    assert [r.lsn for r in at_next] == [2]


def test_scd2_check_cols_gate(spark, tmp_path):
    """C4 check-cols variant (scd2_merge.sql:46-50): a payload-identical
    update opens NO new history version when the gate is on; a changed
    payload still does; deletes always close the chain.  Spans two
    batches so the gate is exercised against STORED current rows too."""
    import datetime

    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0,
        scd2_check_cols=["tokens", "n_tok", "source"],
    )
    batch0 = spark.createDataFrame(
        [
            ("a", 1, "I", [1, 2], 2, None, None, 0, ts(1)),
            ("a", 2, "U", [1, 2], 2, None, None, 0, ts(2)),   # no-op update
            ("a", 3, "U", [3, 4], 2, None, None, 0, ts(3)),   # real change
            ("b", 1, "I", [9], 1, None, None, 0, ts(1)),
        ],
        CHANGE_EVENT_SCHEMA,
    )
    pipe.apply_batch(batch0, 0)
    hist = {
        (r.doc_id, r.lsn) for r in pipe.history_df().collect()
    }
    assert hist == {("a", 1), ("a", 3), ("b", 1)}  # lsn 2 gated out

    # batch 1: no-op vs STORED current (gated), then delete (kept)
    batch1 = spark.createDataFrame(
        [
            ("a", 4, "U", [3, 4], 2, None, None, 0, ts(4)),   # no-op vs stored
            ("b", 2, "D", None, None, None, None, 0, ts(4)),
        ],
        CHANGE_EVENT_SCHEMA,
    )
    pipe.apply_batch(batch1, 1)
    hist = {(r.doc_id, r.lsn) for r in pipe.history_df().collect()}
    assert hist == {("a", 1), ("a", 3), ("b", 1), ("b", 2)}
    # closure still correct: a@3 is current, b tombstoned
    cur = {r.doc_id: r.lsn for r in pipe.history_df().filter("is_current").collect()}
    assert cur == {"a": 3}
    # target table is UNaffected by the gate (merge keeps lsn-LWW)
    tgt = {r.doc_id: r.lsn for r in pipe.current_state().collect()}
    assert tgt == {"a": 4}


def test_check_cols_gate_compares_late_arrival_with_lsn_predecessor(
    spark, tmp_path
):
    """The gate compares a new version with its lsn predecessor — the
    version it would succeed — also for a late mid-chain arrival whose
    successor is already stored: a@3 equals a@1 and opens no version
    (even though it differs from the stored current a@5), b@3 differs
    from b@1 and slots into the chain, re-closing b@1."""
    import datetime

    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0,
        scd2_check_cols=["tokens"],
    )
    pipe.apply_batch(
        spark.createDataFrame(
            [
                ("a", 1, "I", [1], 1, None, None, 0, ts(1)),
                ("a", 5, "U", [2], 1, None, None, 0, ts(5)),
                ("b", 1, "I", [1], 1, None, None, 0, ts(1)),
                ("b", 5, "U", [2], 1, None, None, 0, ts(5)),
            ],
            CHANGE_EVENT_SCHEMA,
        ),
        0,
    )
    pipe.apply_batch(
        spark.createDataFrame(
            [
                ("a", 3, "U", [1], 1, None, None, 0, ts(3)),  # = a@1: gated
                ("b", 3, "U", [2], 1, None, None, 0, ts(3)),  # != b@1: kept
            ],
            CHANGE_EVENT_SCHEMA,
        ),
        1,
    )
    hist = {
        (r.doc_id, r.lsn): (r.valid_from_utc, r.valid_to_utc)
        for r in pipe.history_df().collect()
    }
    assert set(hist) == {("a", 1), ("a", 5), ("b", 1), ("b", 3), ("b", 5)}
    sec = datetime.timedelta(seconds=1)
    assert hist[("b", 1)][1] == hist[("b", 3)][0] - sec
    assert hist[("b", 3)][1] == hist[("b", 5)][0] - sec
    assert hist[("a", 1)][1] == hist[("a", 5)][0] - sec


def test_check_cols_gate_reinsert_after_delete(spark, tmp_path):
    """A version following a tombstone must ALWAYS open a history row,
    even when its tracked attrs hash equals the tombstone's all-null
    hash (review finding)."""
    import datetime

    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0,
        scd2_check_cols=["source"],   # nullable col: I rows may hash like D rows
    )
    batch = spark.createDataFrame(
        [
            ("k", 1, "I", [1], 1, None, None, 0, ts(1)),
            ("k", 2, "D", None, None, None, None, 0, ts(2)),
            ("k", 3, "I", [2], 1, None, None, 0, ts(3)),  # source null like the D
        ],
        CHANGE_EVENT_SCHEMA,
    )
    pipe.apply_batch(batch, 0)
    hist = {(r.doc_id, r.lsn, r.op) for r in pipe.history_df().collect()}
    assert hist == {("k", 1, "I"), ("k", 2, "D"), ("k", 3, "I")}
    cur = [r.lsn for r in pipe.history_df().filter("is_current").collect()]
    assert cur == [3]


def test_check_cols_gate_ignores_a_column_before_its_ddl(spark, tmp_path):
    """A check column the history does not hold yet hashes as null,
    though the batch frame carries its values: a@2 differs from a@1
    only in a `source` sent before the column's SCHEMA record, so it
    opens no version (the history apply re-plans its hash after the
    probe finds no DDL for the column)."""
    import datetime

    from data_pipeline_spark.cdc.schema import CHANGE_EVENT_SCHEMA

    ts = lambda s: datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)
    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"), n_buckets=2, compact_every=0,
        scd2_check_cols=["tokens", "source"],
    )
    pipe.apply_batch(
        spark.createDataFrame(
            [
                ("a", 1, "I", [1], 1, "x", None, 0, ts(1)),
                ("a", 2, "U", [1], 1, "y", None, 0, ts(2)),  # source only
                ("a", 3, "U", [2], 1, "y", None, 0, ts(3)),  # tokens change
            ],
            CHANGE_EVENT_SCHEMA,
        ),
        0,
    )
    assert {r.lsn for r in pipe.history_df().collect()} == {1, 3}


def test_string_batch_id_stamps_deterministic_hash(spark, tmp_path):
    """A non-numeric batch key must stamp a deterministic non-null
    _batch_id digest (review finding: NULL lost row-level lineage for
    string-epoch deployments); the manifest keeps the original key."""
    from data_pipeline_spark.cdc.merge import merge_into
    from data_pipeline_spark.cdc.schema import (
        CHANGE_EVENT_SCHEMA,
        TARGET_MOR,
        TARGET_SCHEMA_BASE,
    )
    from data_pipeline_spark.table.laketable import LakeTable

    rows = [("d1", 1, "I", [1, 2], 2, None, None, 0, None)]
    changes = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA_BASE, key_col="doc_id",
        n_buckets=2, merge_on_read=TARGET_MOR,
    )
    merge_into(t, changes, "epoch-2026-08-17T00", range(2))
    (row,) = t.read().collect()
    assert row._batch_id is not None
    assert t.has_batch("epoch-2026-08-17T00")
    # deterministic: a second table stamps the identical digest
    t2 = LakeTable.create(
        spark, str(tmp_path / "t2"), TARGET_SCHEMA_BASE, key_col="doc_id",
        n_buckets=2, merge_on_read=TARGET_MOR,
    )
    merge_into(t2, changes, "epoch-2026-08-17T00", range(2))
    (row2,) = t2.read().collect()
    assert row2._batch_id == row._batch_id


# Compaction's rewrite drops an upsert tombstone and so forgets the
# key's delete lsn: a later at-least-once duplicate of an older version
# is re-inserted.  The fix needs tombstones kept in base files (a
# table-format change).  The lane fold keeps every tombstone.
_LOST_DELETE_XFAIL = pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="dropping a delete tombstone forgets the key's delete lsn; a "
    "later duplicate of an older version is re-inserted",
)


@pytest.mark.parametrize(
    "between",
    [
        "nothing",
        pytest.param(
            "compact", marks=_LOST_DELETE_XFAIL
        ),
        "fold-lake",
    ],
)
def test_late_duplicate_after_delete_stays_deleted(spark, tmp_path, between):
    """I lsn1 → D lsn2 → an at-least-once duplicate of I lsn1 with a
    later ingest_ts: the duplicate is older than the delete, so the key
    must stay deleted whatever maintenance ran in between."""
    import datetime

    from data_pipeline_spark.cdc.merge import merge_into
    from data_pipeline_spark.cdc.schema import (
        CHANGE_EVENT_SCHEMA,
        TARGET_MOR,
        TARGET_SCHEMA_BASE,
    )
    from data_pipeline_spark.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA_BASE, key_col="doc_id",
        n_buckets=1, merge_on_read=TARGET_MOR,
    )
    ts = lambda h: datetime.datetime(2024, 1, 1, h)
    ev = lambda lsn, op, h: spark.createDataFrame(
        [("k", lsn, op, None if op == "D" else [1], 1, None, None, 0, ts(h))],
        CHANGE_EVENT_SCHEMA,
    )
    merge_into(t, ev(1, "I", 0), 0, range(1))
    merge_into(t, ev(2, "D", 1), 1, range(1))
    if between == "compact":
        assert t.compact(max_files_per_bucket=0) == [0]
    elif between.startswith("fold"):
        assert t.fold_delta_lane() == [0]
    merge_into(t, ev(1, "I", 3), 2, range(1))  # duplicate delivered two hours late
    assert t.read().count() == 0


def test_non_mor_tables_are_refused(spark, tmp_path):
    """A warehouse whose target/history lacks the merge-on-read config
    (written by the removed copy-on-write mode) fails fast, naming the
    table; the writers refuse such tables too."""
    from data_pipeline_spark.cdc.merge import merge_into
    from data_pipeline_spark.cdc.schema import (
        CHANGE_EVENT_SCHEMA,
        HISTORY_SCHEMA_BASE,
        TARGET_SCHEMA_BASE,
    )
    from data_pipeline_spark.cdc.scd2 import apply_history
    from data_pipeline_spark.table.laketable import LakeTable

    wh = tmp_path / "wh"
    target = LakeTable.create(
        spark, str(wh / "target"), TARGET_SCHEMA_BASE, key_col="doc_id", n_buckets=2
    )
    with pytest.raises(ValueError, match=r"target.*copy-on-write"):
        CdcPipeline(spark, str(wh), n_buckets=2)
    wh2 = tmp_path / "wh2"
    history = LakeTable.create(
        spark, str(wh2 / "history"), HISTORY_SCHEMA_BASE, key_col="doc_id",
        n_buckets=2,
    )
    with pytest.raises(ValueError, match=r"history.*copy-on-write"):
        CdcPipeline(spark, str(wh2), n_buckets=2)
    changes = spark.createDataFrame(
        [("d1", 1, "I", [1], 1, None, None, 0, None)], CHANGE_EVENT_SCHEMA
    )
    with pytest.raises(ValueError, match="upsert-mode merge-on-read"):
        merge_into(target, changes, 0, range(2))
    with pytest.raises(ValueError, match="patch-mode merge-on-read"):
        apply_history(history, changes, 0, range(2), 1)
