"""Multimodal plumbing + streaming crash/resume regression tests.

The multimodal decode is stubbed (no codec libs in this container) but
the Spark-side machinery — binary columns, Arrow batch shape,
mapInPandas schema — is real and must stay deterministic.

The resume test replicates the reference's offset-commit discipline
(bridge.py:398-417): kill the stream mid-replay, restart from the same
checkpoint with a FRESH pipeline object, and the final state must equal
the oracle exactly (manifests make the re-delivered batch a no-op).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from data_pipeline_spark.cdc.oracle import (
    assert_tokens_equal,
    expected_final_state,
    load_log,
)
from data_pipeline_spark.cdc.pipeline import CdcPipeline
from data_pipeline_spark.cdc.stream import run_stream
from data_pipeline_spark.cdc.synth import generate_change_log
from data_pipeline_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    sample_frames,
)


@pytest.fixture()
def media_df(spark):
    rows = [
        ("m1", "image", "image/png", bytes(range(200)), 10, 10, None),
        ("m2", "audio", "audio/wav", b"\x00\x01" * 500, None, None, 4000),
        ("m3", "video", "video/mp4", b"xyz" * 33, 640, 480, 2500),
        ("m4", "image", "image/png", None, None, None, None),
    ]
    from data_pipeline_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_media_features_nbytes_and_determinism(spark, media_df):
    out1 = extract_features(media_df).orderBy("media_id").collect()
    out2 = extract_features(media_df).orderBy("media_id").collect()
    by_id = {r["media_id"]: r for r in out1}
    assert by_id["m1"]["n_bytes"] == 200
    assert by_id["m2"]["n_bytes"] == 1000
    assert by_id["m4"]["n_bytes"] == 0
    for r in out1:
        assert len(r["feature"]) == FEATURE_DIM
    # deterministic: same bytes → identical feature vectors
    for a, b in zip(out1, out2):
        assert a["media_id"] == b["media_id"]
        assert np.allclose(a["feature"], b["feature"])
    # m1 covers all byte values uniformly → histogram fractions sum to 1
    assert abs(sum(by_id["m1"]["feature"]) - 1.0) < 1e-6


def test_sample_frames_counts(spark, media_df):
    frames = sample_frames(media_df, every_ms=1000)
    rows = frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    got = {r["media_id"]: r["n"] for r in rows}
    # only the video row expands; 2500ms at 1000ms steps → ts 0,1000,2000
    assert got == {"m3": 3}


def test_stream_crash_resume_matches_oracle(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    generate_change_log(log_dir, n_docs=80, seed=5, n_files=6)

    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    pipe = CdcPipeline(spark, wh, n_buckets=4, compact_every=0)

    class CrashAfterOne:
        """Applies the first batch, then dies before the stream commits
        it, so the resumed stream re-delivers that batch."""

        n = 0

        def apply_batch(self, df, batch_id):
            pipe.apply_batch(df, batch_id)
            self.n += 1
            raise RuntimeError("simulated crash")

    crashing = CrashAfterOne()
    with pytest.raises(Exception):  # Spark rewraps the error
        run_stream(spark, log_dir, crashing, ckpt, max_files_per_trigger=2)
    assert crashing.n == 1
    # fresh pipeline object — state must come from disk, not memory
    pipe2 = CdcPipeline(spark, wh, n_buckets=4, compact_every=0)
    run_stream(spark, log_dir, pipe2, ckpt, max_files_per_trigger=2)

    actual = (
        pipe2.current_state()
        .select("doc_id", "tokens", "n_tok", "source")
        .toPandas()
    )
    assert_tokens_equal(actual, expected_final_state(load_log(log_dir)))
    # every streamed batch is manifest-recorded exactly once
    applied = pipe2.target.snapshot.applied_batches
    assert len(applied) == 3  # 6 files / 2 per trigger


def test_extract_features_warns_instead_of_mutating_conf(spark, media_df):
    """extract_features must never re-configure the session behind the
    caller's back (review finding): an over-cap session conf draws a
    warning pointing at build_session, and the conf stays unchanged."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    with pytest.warns(UserWarning, match="build_session"):
        extract_features(media_df, rows_per_batch=16)
    assert spark.conf.get(key) == before


def test_parse_mem_bytes_warns_on_garbage():
    from data_pipeline_spark.session import _parse_mem_bytes

    with pytest.warns(UserWarning, match="unparseable"):
        assert _parse_mem_bytes("not-a-size") == 8 << 30
    assert _parse_mem_bytes("2g") == 2 << 30
    assert _parse_mem_bytes("512mb") == 512 << 20
