"""Scale guards on the dedup stack: the hot-shingle df-cap and the
LSH bucket cap.

A boilerplate shingle shared by d documents contributes d² rows to the
Jaccard intersection self-join; the df-cap must drop it from every
shingle set before sizes/intersections so the join stays bounded and
the scores stay self-consistent.
"""

from __future__ import annotations

import pytest

from data_pipeline_spark.operators.dedupe import (
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
)


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    # 8 docs that all share the same 5-word boilerplate prefix (→ three
    # hot 3-shingles with df=8) plus unique bodies; docs 0 and 1 share
    # their body (a real near-dup pair).
    boiler = "accept all cookies to continue"
    rows = []
    for i in range(8):
        body = "alpha beta gamma delta" if i < 2 else f"unique{i} words here now"
        rows.append((f"d{i}", f"{boiler} {body}"))
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_df_cap_drops_boilerplate_only_pairs(spark, boilerplate_docs):
    # Uncapped: every doc pair shares the boilerplate shingles → 28
    # candidate pairs enter the join (8 choose 2).
    uncapped = ngram_jaccard_pairs(
        boilerplate_docs, "doc_id", "text", threshold=0.0, max_doc_freq=None
    )
    assert uncapped.count() == 28

    # Capped below the planted df: boilerplate shingles are removed
    # from the sets entirely, so only the genuinely-duplicated body
    # still intersects — ONE pair survives, with Jaccard computed over
    # the capped sets (identical 2-shingle bodies → 1.0).
    capped = ngram_jaccard_pairs(
        boilerplate_docs, "doc_id", "text", threshold=0.0, max_doc_freq=4
    )
    rows = capped.collect()
    assert len(rows) == 1
    (r,) = rows
    assert {r["id_a"], r["id_b"]} == {"d0", "d1"}
    assert r["jaccard"] == 1.0


def test_df_cap_above_fixture_df_is_a_noop(spark, boilerplate_docs):
    lo = ngram_jaccard_pairs(
        boilerplate_docs, "doc_id", "text", threshold=0.5, max_doc_freq=None
    )
    hi = ngram_jaccard_pairs(
        boilerplate_docs, "doc_id", "text", threshold=0.5, max_doc_freq=100
    )
    assert sorted(map(tuple, lo.collect())) == sorted(map(tuple, hi.collect()))


@pytest.mark.parametrize("max_bucket,n_pairs", [(7, 57), (6, 15), (5, 0)])
def test_lsh_max_bucket_boundary(spark, max_bucket, n_pairs):
    # 20 docs in three groups of identical text (7, 7 and 6 docs): each
    # group fills its own buckets, and any band two groups share makes
    # a bucket of 13+ docs.  A bucket exactly at the cap stays, one
    # above it is dropped before any pair is made.
    docs = spark.createDataFrame(
        [(f"d{i:02d}", f"a b c d e f {i % 3} g h") for i in range(20)],
        "doc_id string, text string",
    )
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, band_size=2, max_bucket=max_bucket
    )
    assert pairs.count() == n_pairs


def test_ivf_self_contained_and_cluster_cap(spark):
    """IVF without a precomputed label: the sign-LSH quantizer derives
    clusters from the data; a degenerate cluster above max_cluster is
    dropped from the pair join instead of going quadratic."""
    import numpy as np

    from data_pipeline_spark.operators.similarity import ivf_threshold_pairs

    rng = np.random.default_rng(3)
    # 30 vectors: 20 copies of one direction (one degenerate cluster)
    # + 10 random others
    base = rng.normal(size=8)
    rows = [(f"v{i}", (base + rng.normal(scale=0.01, size=8)).tolist())
            for i in range(20)]
    rows += [(f"r{i}", rng.normal(size=8).tolist()) for i in range(10)]
    df = spark.createDataFrame(rows, "id string, vec array<double>")

    uncapped = ivf_threshold_pairs(
        df, "id", "vec", threshold=0.99, dim=8, n_planes=2, max_cluster=None
    )
    n_unc = uncapped.count()
    assert n_unc >= 20 * 19 / 2  # the near-identical copies all pair up

    capped = ivf_threshold_pairs(
        df, "id", "vec", threshold=0.99, dim=8, n_planes=2, max_cluster=10
    )
    got = capped.collect()
    # the degenerate cluster (>10 members) is dropped entirely
    assert all(not (r.id_a.startswith("v") and r.id_b.startswith("v")) for r in got)
    assert len(got) < n_unc


def _clustered_vectors(n_clusters=8, per=12, dim=16, seed=11):
    """Ground-truth clustered corpus: tight Gaussian clusters around
    random unit centers.  Returns (rows, true_pairs) where true_pairs is
    every unordered pair with cosine >= 0.9 (computed exactly in numpy,
    rounded like the operator)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vecs, ids = [], []
    for c in range(n_clusters):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        for i in range(per):
            v = center + rng.normal(scale=0.05, size=dim)
            ids.append(f"c{c}_{i}")
            vecs.append(v)
    X = np.asarray(vecs)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = np.round(Xn @ Xn.T, 4)
    true_pairs = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if sims[i, j] >= 0.9:
                a, b = sorted((ids[i], ids[j]))
                true_pairs.add((a, b))
    rows = [(ids[i], X[i].tolist()) for i in range(len(ids))]
    return rows, true_pairs


def test_kmeans_ivf_correct_and_beats_lsh_recall(spark):
    """Round-3 ask: ivf_threshold_pairs(quantizer='kmeans') works, and
    at an EQUAL candidate budget (8 cells each: k=8 vs 2^3 LSH cells)
    the data-adaptive quantizer recalls more true pairs than the
    data-oblivious hyperplane cells — clusters that straddle a fixed
    hyperplane get split by LSH but get their own k-means centroid.
    (k must match the true cluster count's order: k >> clusters splits
    each real cluster across centroids and loses the advantage.)"""
    from data_pipeline_spark.operators.similarity import ivf_threshold_pairs

    rows, true_pairs = _clustered_vectors()
    df = spark.createDataFrame(rows, "id string, vec array<double>")

    def recall(quant):
        got = ivf_threshold_pairs(
            df, "id", "vec", threshold=0.9, dim=16, n_planes=3,
            quantizer=quant, k_clusters=8, max_cluster=None,
        ).collect()
        found = {tuple(sorted((r.id_a, r.id_b))) for r in got}
        assert found <= true_pairs  # no false positives ever
        return len(found) / len(true_pairs)

    r_kmeans = recall("kmeans")
    r_lsh = recall("lsh")
    assert r_kmeans > r_lsh
    assert r_kmeans >= 0.95  # centroids track the real clusters


def test_kmeans_assign_deterministic(spark):
    """Same data + seed → identical assignment regardless of input
    partitioning (the fit sample is picked by xxhash64(id) order, not
    physical row order)."""
    from data_pipeline_spark.operators.similarity import kmeans_assign

    rows, _ = _clustered_vectors(n_clusters=4, per=8)
    a = spark.createDataFrame(rows, "id string, vec array<double>")
    b = a.repartition(7)
    ga = {r.id: r.cluster for r in kmeans_assign(a, "id", "vec", k=4).collect()}
    gb = {r.id: r.cluster for r in kmeans_assign(b, "id", "vec", k=4).collect()}
    assert ga == gb
    assert len(set(ga.values())) > 1


def test_dedup_components_chain_and_islands(spark):
    """Min-label propagation must cross chains (diameter > 1) and keep
    disjoint islands separate."""
    from data_pipeline_spark.operators.dedupe import dedup_components

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"),   # chain a-b-c-d (diameter 3)
         ("x", "y")],                           # separate island
        "id_a string, id_b string",
    )
    got = {r.id: r.component for r in dedup_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_star_components_matches_propagation(spark):
    """algorithm='star' must produce the identical (id, component)
    labelling as min-label propagation on a mixed graph (chains,
    triangles, islands)."""
    import random

    from data_pipeline_spark.operators.dedupe import dedup_components

    rng = random.Random(17)
    pairs = []
    # 10 random clusters of 3-8 nodes each, connected arbitrarily
    nid = 0
    for c in range(10):
        nodes = [f"n{nid + i:05d}" for i in range(rng.randint(3, 8))]
        nid += len(nodes)
        for i in range(1, len(nodes)):
            pairs.append((nodes[i], nodes[rng.randrange(i)]))
        # extra random intra-cluster edges
        for _ in range(2):
            a, b = rng.sample(nodes, 2)
            pairs.append((a, b))
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    prop = {r.id: r.component for r in dedup_components(df).collect()}
    star = {
        r.id: r.component
        for r in dedup_components(df, algorithm="star").collect()
    }
    assert star == prop


def test_star_components_adversarial_chain(spark):
    """The round-3 ask: a 1000-node path graph (diameter 999).  Plain
    propagation needs ~999 rounds and must RAISE at max_iter=20; the
    large-star/small-star variant converges in O(log n) rounds and
    labels every node with the chain's minimum."""
    import pytest as _pytest

    from data_pipeline_spark.operators.dedupe import dedup_components

    n = 1000
    pairs = spark.createDataFrame(
        [(f"c{i:05d}", f"c{i + 1:05d}") for i in range(n - 1)],
        "id_a string, id_b string",
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_iter=20)
    labels = dedup_components(pairs, algorithm="star", max_iter=20).collect()
    assert len(labels) == n
    assert all(r.component == "c00000" for r in labels)
