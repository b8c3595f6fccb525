"""Corpus-deduplication operators for training-data pipelines.

Exact dedup, MinHash+LSH, SimHash, and n-gram Jaccard — the standard
web-corpus near-dup stack, built from JVM-side expressions only (md5 /
regexp / higher-order array functions), deliberately formulated so an
ANSI-SQL oracle (DuckDB) can reproduce every value bit-for-bit:

* hash primitive: first 15 hex chars of md5 → BIGINT (fits int64 in
  every engine);
* shingles: 3-word shingles over casefolded whitespace-collapsed text;
* MinHash: K independent hashes h_k(s) = H(k ':' s), min per doc;
* LSH: K/r bands, band key = md5 of the band's signature slice;
  candidate pairs share any (band_idx, band_key) bucket.

Scale notes: shingling is linear in a document's words (the word
array is bound once per row, not re-split per shingle).  MinHash is
explode → hash → groupBy-min, i.e. one shuffle on doc_id with map-side
partial mins.  The LSH is one aggregation on (band_idx, band_key), a
high-cardinality and therefore well-distributed key: each bucket's ids
are collected once and its pairs expanded in place, with no join.
Mega-buckets (boilerplate pages) are dropped before any pair is made —
`max_bucket` caps the bucket size, bounding both the collected id array
and the quadratic expansion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5


def _hash15(c: Column, window: int = 0) -> Column:
    """15 hex chars of md5 → BIGINT (cross-engine-exact).  One md5 yields
    TWO independent 60-bit hashes (windows 0 and 1 of the 32-hex digest),
    halving the md5 calls for MinHash signature families."""
    return F.conv(F.substring(F.md5(c), 1 + 15 * window, 15), 16, 10).cast("long")


def normalize_text(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles; whole text if fewer than n words.

    Linear in words: the split is bound once per row as the one element
    of an array, and the shingle builder runs as a lambda over it.  An
    expression used inside a ``transform`` lambda is evaluated per
    element, so splitting there would re-split the whole document for
    every shingle."""
    norm = normalize_text(c)

    def grams(words: Column) -> Column:
        k = F.size(words)
        make = F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        return F.when(k >= n, make).otherwise(F.array(norm))

    return F.element_at(F.transform(F.array(F.split(norm, " ")), grams), 1)


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact dedup via content fingerprint: hash-groupBy, keep the
    lowest id as canonical, count the clones."""
    fp = df.select(
        F.col(id_col), fingerprint_md5(text_col).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """doc → MinHash signature (one column per hash, sig_0..sig_{K-1}).

    explode(shingles) → K hash exprs → groupBy(doc).min() — a single
    shuffle with map-side combine; no UDFs.  A document's repeated
    shingles need no dedup: min ignores them."""
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    aggs = [
        F.min(
            _hash15(
                F.concat_ws(":", F.lit(str(k // 2)), F.col("shingle")),
                window=k % 2,
            )
        ).alias(f"sig_{k}")
        for k in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sigs: DataFrame, id_col: str, num_hashes: int = 16, band_size: int = 4
) -> DataFrame:
    """Signature → (band_idx, band_key) rows for bucketing."""
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"sig_{b * band_size + j}").cast("string") for j in range(band_size)]
        bands.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws(",", *cols)).alias("band_key"),
            )
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(id_col, "band.band_idx", "band.band_key")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing any band bucket.

    One aggregation on (band_idx, band_key) collects each bucket's ids;
    buckets of 2..max_bucket docs expand in place to their id_a < id_b
    pairs, so the band frame is read once and no join is planned.
    max_bucket drops degenerate mega-buckets (boilerplate) before the
    quadratic pair expansion — the skew guard that matters at 100 TB."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    buckets = (
        lsh_bands(sigs, id_col, num_hashes, band_size)
        .groupBy("band_idx", "band_key")
        .agg(F.collect_list(id_col).alias("_ids"))
        .filter(F.size("_ids").between(2, max_bucket))
    )
    return (
        buckets.select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle:
    |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold.  The verification stage after
    LSH candidates (or standalone at moderate scale).

    max_doc_freq is the hot-shingle guard (the df-cap standard in
    web-corpus dedup): a boilerplate shingle shared by d documents
    (cookie banners, license headers) would contribute d² rows to the
    intersection self-join — 10¹² at corpus scale.  Shingles with
    document frequency > max_doc_freq are removed from every shingle
    set BEFORE sizes and intersections are computed (self-consistent:
    Jaccard is then over the capped sets), bounding the join at
    O(n_shingles × max_doc_freq).  The surviving hot set is tiny by
    definition (few distinct values can exceed the cap), so the
    filter is a broadcast anti-join.  None disables the cap."""
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
    ).dropDuplicates([id_col, "shingle"])
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b")
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per word w, h(w) = md5-prefix int; bit j of
    the fingerprint is 1 iff sum over words of (+1 if bit j of h(w) else
    -1) > 0.  Returns (id, simhash BIGINT).  Near-dups have small
    hamming distance between fingerprints."""
    words = df.select(
        F.col(id_col), F.explode(F.split(normalize_text(text_col), " ")).alias("w")
    )
    h = _hash15(F.col("w"))
    hashed = words.select(id_col, h.alias("h"))
    bit_sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else (fp + term)
    return bit_sums.select(F.col(id_col), fp.alias("simhash"))


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    algorithm: str = "propagate",
) -> DataFrame:
    """Near-dup pair list → connected components: every document in a
    component shares a chain of near-dup pairs, and the component label
    is the MINIMUM id in it (the canonical survivor in keep-one dedup).
    Returns (id, component).

    Algorithm: iterative min-label propagation — each round every node
    takes min(own label, neighbours' labels); converged when no label
    changes.  Rounds needed = graph diameter; near-dup components are
    small dense clusters (diameter 2-4 in practice), so this converges
    in a few rounds.  Each round is one join + one groupBy (two
    shuffles on the id) over the PAIR LIST, not the corpus — the input
    is already the LSH/Jaccard output, orders of magnitude smaller than
    the document table.

    algorithm:
      * ``"propagate"`` (default) — rounds needed = graph DIAMETER;
        near-dup components are small dense clusters (diameter 2-4 in
        practice), so this is the cheapest correct choice for them, and
        it RAISES rather than silently splitting a component when a
        chain-shaped graph exceeds max_iter.
      * ``"star"`` — alternating large-star/small-star (Kiveris et al.,
        "Connected Components in MapReduce and Beyond", SoCC'14):
        rounds needed = O(log n) REGARDLESS of diameter, so a 10^6-node
        chain converges in ~10 rounds where propagation needs 10^6.
        Same primitive ops (join + groupBy over the pair list); the
        per-round constant is ~2× propagation's, which is why it is not
        the default for ordinary near-dup graphs.

    The per-round convergence check is one small driver action; per-
    round frames are cached and the previous round's cache released.
    """
    if algorithm not in ("propagate", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if algorithm == "star":
        return _components_star(pairs, id_a, id_b, max_iter)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    # materialize the edge list ONCE: every propagation round (plus the
    # convergence count) joins against it, and its upstream lineage is
    # typically the expensive LSH/Jaccard self-join — without the cache
    # K rounds re-run that stage K times
    edges.cache()
    edges.count()
    # per-round labels are localCheckpoint-ed (eager), not just cached:
    # new_labels references the previous labels TWICE (propagation join
    # + convergence diff), so without lineage truncation the logical
    # plan doubles per round and planning OOMs near max_iter — the
    # standard iterative-algorithm pattern.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("_nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("_nbr_min", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent wrong answers are worse than failure: an unconverged
        # exit would split one real component into several (and diverge
        # from the fully-converged SQL oracle) with no indication
        edges.unpersist()
        raise RuntimeError(
            f"dedup_components did not converge in {max_iter} rounds — "
            "component diameter exceeds max_iter (chain-shaped graph); "
            "raise max_iter or switch to the large-star/small-star variant"
        )
    edges.unpersist()
    return labels


def _components_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014).

    Invariant maintained on the undirected edge multiset E:
      * large-star: for every node u, hook each neighbour v > u onto
        m = min(N(u) ∪ {u})  → emits (v, m)
      * small-star: orient every edge large→small; for every node u,
        hook u and its smaller neighbours onto m = min(N⁻(u) ∪ {u})
    Both preserve connectivity; alternating them contracts every
    component into a min-rooted star in O(log n) rounds even for
    chain/path graphs where plain propagation needs diameter rounds.
    Convergence = edge multiset reached a fixed point (checked with one
    count + order-independent hash aggregate per round).
    """
    # each round's frame is localCheckpoint-ed (eager): the edge set is
    # referenced 2-3× per round, so without lineage TRUNCATION the
    # logical plan tree grows ~3× per round — exponential in rounds —
    # and planning itself OOMs long before the data does.  cache() only
    # reuses the physical result; checkpointing is what cuts the tree.
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )  # orient large→small; component root = global min
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = _edge_signature(edges)
    for _ in range(max_iter):
        # ---- large-star ------------------------------------------------
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            both.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # large-star keeps (u, m) edges implicitly via the small-star
        # input: union with the oriented originals so no hook is lost
        after_large = (
            large.unionByName(edges)
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
        # ---- small-star ------------------------------------------------
        smins = after_large.groupBy("u").agg(F.min("v").alias("m"))
        hooked = after_large.join(smins, "u")
        new_edges = (
            hooked.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(hooked.select("u", F.col("m").alias("v")))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_edges = new_edges.localCheckpoint(eager=True)
        sig = _edge_signature(new_edges)
        edges = new_edges  # old checkpoint RDD is GC-reclaimed
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"star components did not converge in {max_iter} rounds — "
            "at O(log n) rounds this implies n > 2^max_iter nodes; raise "
            "max_iter"
        )
    # fixed point = min-rooted stars: every non-root u points at its
    # component root v; roots appear only on the small side
    non_roots = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        edges.select(F.col("v").alias("id"))
        .distinct()
        .join(non_roots.select("id"), "id", "anti")
        .withColumn("component", F.col("id"))
    )
    return non_roots.unionByName(roots).localCheckpoint(eager=True)


def _edge_signature(edges: DataFrame) -> tuple:
    """(count, order-independent hash) — one scalar job per round.
    bit_xor (not sum) so the aggregate cannot overflow under ANSI mode;
    edges are distinct, so xor-of-hashes + count identifies the set."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).first()
    return (row["n"], row["h"])
