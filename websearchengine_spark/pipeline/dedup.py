"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine.

Every operator returns a deterministic DataFrame with an exact DuckDB oracle
(plans/pipeline_gate.py). Hashes are the shared md5-based h60 (identical in
both engines, see pipeline/hashing.py).

Scale notes (1000 executors / 10^12 docs):
- exact: one shuffle keyed by a 60-bit content hash — uniformly distributed,
  no skew by construction.
- n-gram Jaccard is quadratic in docs-per-shingle: at scale it runs *after*
  MinHash-LSH banding has cut the candidate space, never standalone. Hot
  shingles (boilerplate) are the skew risk → drop shingles with
  df > cap before the pair join (same trick as the index build's hot terms).
- MinHash-LSH: candidate generation is a self-join on (band, band_hash) —
  a uniform hash key. The verify stage re-computes exact Jaccard only on
  candidates.
- SimHash banding is lossless for hamming ≤ n_chunks − 1 (pigeonhole):
  the Spark plan joins on 4×15-bit chunks while the oracle brute-forces all
  pairs — identical output, which is itself a test that the LSH plan loses
  nothing.
- embedding-cosine: brute force here (oracle-checkable); the ANN path for
  scale is pipeline/similarity.py's hyperplane-LSH bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from websearchengine_spark.pipeline.hashing import h60, shingles, tokens

# ---------------------------------------------------------------------------
# exact


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by full-content hash: one survivor (min doc_id) per
    distinct text. (doc_id, n_copies), doc_id = canonical survivor."""
    return (
        docs.groupBy(h60("text").alias("text_h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard

def _shingle_sets(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, sh: array<string>) distinct k-shingles — tokens projected
    first so the shingle expression references an attribute (see
    hashing.shingles note on lambda re-evaluation)."""
    return docs.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", shingles(F.col("toks"), k=k, distinct=True).alias("sh")
    )


def _shingle_rows(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, n_sh, shingle) exploded distinct k-shingles."""
    return (
        _shingle_sets(docs, k)
        .withColumn("n_sh", F.size("sh"))
        .select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.5, shingle_df_cap: int | None = 256
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via shingle-inverted self-join.
    (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``shingle_df_cap`` drops shingles appearing in more than cap docs before
    the pair join (boilerplate = skew + quadratic blowup; dropping them can
    only lower Jaccard estimates for pairs sharing *only* boilerplate).
    Defaults to 256 so a naive call cannot go quadratic on boilerplate: one
    shingle shared by m docs alone contributes m·(m-1)/2 candidate pairs, so
    an uncapped hot shingle at corpus scale is an all-pairs join in disguise.
    Pass ``None`` only for oracle-grade exact Jaccard on bounded corpora."""
    rows = _shingle_rows(docs, k)
    if shingle_df_cap is not None:
        keep = (
            rows.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("sdf"))
            .filter(F.col("sdf") <= shingle_df_cap)
            .select("shingle")
        )
        rows = rows.join(keep, "shingle")
    a = rows.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = rows.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH

MINHASH_P = (1 << 31) - 1  # Mersenne prime: a*h+b stays in int64 both engines


def decontaminate(docs: DataFrame, benchmark: DataFrame, k: int = 5) -> DataFrame:
    """Benchmark decontamination: per training doc, count its distinct
    k-gram shingles that also occur anywhere in the ``benchmark`` corpus
    (the standard n-gram-overlap test-set leakage check run before LLM
    pretraining; docs with ``n_hits > 0`` are dropped or audited).

    → (doc_id, n_hits, contaminated[0/1]) for EVERY doc (clean docs keep
    n_hits = 0, so the output is total and join-free to consume).

    Scale shape: the benchmark side is an eval suite — thousands of docs,
    millions of distinct shingle hashes at most — so its distinct h60 set
    broadcasts, and the training-side scan stays narrow: explode distinct
    shingles → broadcast semi-join → per-doc count. No shuffle touches the
    corpus except the final per-doc aggregation of hit rows (hits are rare
    by construction at 100 TB)."""
    bench_sh = (
        _shingle_rows(benchmark, k)
        .select(h60("shingle").alias("sh_h"))
        .distinct()
    )
    hits = (
        _shingle_rows(docs, k)
        .select("doc_id", h60("shingle").alias("sh_h"))
        .join(F.broadcast(bench_sh), "sh_h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))  # shingles already distinct
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def minhash_seed_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per seed for the universal hash family
    h_i(x) = (a_i·x + b_i) mod P over x = h60(shingle) mod P. Derived from
    md5 so Spark and the DuckDB oracle embed the SAME constants."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-seed:{i}".encode()).hexdigest()
        a = int(d[:8], 16) % (MINHASH_P - 1) + 1  # a ∈ [1, P-1]
        b = int(d[8:16], 16) % MINHASH_P
        out.append((a, b))
    return out


def minhash_wide(docs: DataFrame, num_hashes: int = 16, k: int = 3) -> DataFrame:
    """Wide MinHash signatures (doc_id, mh0..mh{n-1}): ONE content hash per
    shingle (md5-derived h60 mod P) fanned out through ``num_hashes``
    universal-hash functions (a_i·h + b_i mod P) as columns of the same row,
    then one groupBy(doc_id) with num_hashes min-aggregates. No per-seed
    md5 (16× fewer cryptographic hashes than the naive seeded form), no
    seed× row blow-up through the shuffle, exactly one exchange. Docs with
    no shingles emit nothing."""
    rows = _shingle_rows(docs, k).withColumn(
        "h", h60(F.col("shingle")) % MINHASH_P
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_seed_params(num_hashes))
    ]
    return rows.groupBy("doc_id").agg(*aggs)


def minhash_signatures(docs: DataFrame, num_hashes: int = 16, k: int = 3) -> DataFrame:
    """Long-form MinHash signature rows (doc_id, seed, minhash) — a melt of
    :func:`minhash_wide` (the gate/oracle shape)."""
    wide = minhash_wide(docs, num_hashes=num_hashes, k=k)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("seed"),
                F.col(f"mh{i}").alias("minhash"),
            )
            for i in range(num_hashes)
        ]
    )
    return wide.select("doc_id", F.explode(pairs).alias("sm")).select(
        "doc_id", F.col("sm.seed").alias("seed"), F.col("sm.minhash").alias("minhash")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band signatures → bucket self-join →
    exact-Jaccard verify ≥ threshold. (doc_a, doc_b, jaccard), doc_a < doc_b.

    Banding: ``bands`` bands of r = num_hashes/bands rows; band key =
    h60(band || '|' || minhashes joined ','). A pair is a candidate iff some
    band matches; every candidate is then verified with the *exact* Jaccard
    (so false positives cost time, never correctness)."""
    r = num_hashes // bands
    assert bands * r == num_hashes
    wide = minhash_wide(docs, num_hashes=num_hashes, k=k)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                h60(
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{b * r + j}").cast("string")
                                for j in range(r)
                            ],
                        ),
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    band_rows = wide.select(
        "doc_id", F.explode(band_structs).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    cand = (
        band_rows.alias("x")
        .join(band_rows.alias("y"), ["band", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verify: exact Jaccard on the candidate pairs only
    sh = _shingle_sets(docs, k)
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sha", "shb")).cast("double"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sha") + F.size("shb") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash

SIMHASH_BITS = 60  # stays positive in a signed int64 (no UBIGINT in Spark)
SIMHASH_CHUNKS = 4
CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS  # 15


def simhash(docs: DataFrame) -> DataFrame:
    """Production 60-bit SimHash over whitespace/alnum tokens weighted by
    term frequency: bit j = 1 iff Σ_tokens tf·(±1 from bit j of h60(token))
    > 0. (doc_id, simhash). Docs with no tokens get simhash 0.

    Physical plan: ONE Arrow-batched ``mapInPandas`` — per batch, tokenize
    (C-level regex), factorize tokens, ONE md5 per distinct token (exactly
    h60: int(md5[:15 hex], 16)), then a vectorized ±1 bit-matrix
    scatter-add; integer arithmetic end-to-end, so the output is
    bit-identical to the SQL oracle AND to the pure-column plan. The prior
    column plan exploded 60 bit-rows per (doc, distinct token) through a
    shuffle (60× the postings volume at 10^12 docs); it survives as
    :func:`simhash_explode`, the oracle-check plan (pytest asserts
    equality). No shuffle at all here — a narrow map over the docs."""
    import re

    import numpy as np
    import pandas as pd

    tok_re = re.compile("[a-z0-9]+")

    def sim_batches(pdfs):
        import hashlib

        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in pdfs:
            n = len(pdf)
            if n == 0:
                continue
            toks = [
                tok_re.findall((t or "").lower()) for t in pdf["text"]
            ]
            lens = np.fromiter((len(t) for t in toks), np.int64, n)
            sim = np.zeros(n, dtype=np.int64)
            if lens.sum() > 0:
                from itertools import chain

                rows = np.repeat(np.arange(n, dtype=np.int64), lens)
                codes, uniques = pd.factorize(
                    np.asarray(list(chain.from_iterable(toks)), dtype=object)
                )
                # tf per (row, token): fused int64 key → unique+counts
                key = rows * np.int64(len(uniques)) + codes
                uk, counts = np.unique(key, return_counts=True)
                r_idx = (uk // len(uniques)).astype(np.int64)
                c_idx = (uk % len(uniques)).astype(np.int64)
                # one h60 per DISTINCT token in the batch (vocab ≪ tokens)
                h = np.fromiter(
                    (
                        int(hashlib.md5(u.encode("utf-8")).hexdigest()[:15], 16)
                        for u in uniques
                    ),
                    np.int64,
                    len(uniques),
                )
                bits = (((h[:, None] >> shifts) & 1) * 2 - 1).astype(np.int64)
                v = np.zeros((n, SIMHASH_BITS), dtype=np.int64)
                np.add.at(v, r_idx, counts[:, None] * bits[c_idx])
                sim = ((v > 0).astype(np.int64) << shifts).sum(axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "simhash": pd.Series(sim, dtype="int64"),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        sim_batches, "doc_id long, simhash long"
    )


def simhash_explode(docs: DataFrame) -> DataFrame:
    """Oracle-check plan (pure column expressions, SQL-mirrorable 1:1):
    60-way bit explode per (doc, distinct token) — kept ONLY to check
    :func:`simhash` bit-identity in tests; never the scale path."""
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", h60("tok"))
    )
    bits = tf.select(
        "doc_id",
        "tf",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j"),
    ).withColumn(
        "w",
        F.when(
            F.expr("shiftright(h, cast(j as int))").bitwiseAND(F.lit(1)) == 1,
            F.col("tf"),
        ).otherwise(-F.col("tf")),
    )
    comps = bits.groupBy("doc_id", "j").agg(F.sum("w").alias("v"))
    fp = comps.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("v") > 0,
                F.expr("shiftleft(cast(1 as bigint), cast(j as int))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )
    return docs.select("doc_id").join(fp, "doc_id", "left").select(
        "doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ max_hamming.
    (doc_a, doc_b, hamming), doc_a < doc_b.

    Candidate generation is chunk-LSH: the 60-bit fingerprint splits into 4
    15-bit chunks; any pair within hamming ≤ 3 must agree on ≥ 1 chunk
    (pigeonhole), so joining on chunk equality is *lossless* — the DuckDB
    oracle brute-forces all pairs and must match exactly."""
    assert max_hamming <= SIMHASH_CHUNKS - 1, "chunk-LSH lossless only to chunks-1"
    fps = simhash(docs)
    chunks = fps.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_CHUNKS - 1))).alias("c"),
    ).withColumn(
        "chunk",
        F.expr(f"shiftright(simhash, cast(c * {CHUNK_BITS} as int))").bitwiseAND(
            F.lit((1 << CHUNK_BITS) - 1)
        ),
    )
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["c", "chunk"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("fa"),
            F.col("y.simhash").alias("fb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# duplicate-group resolution (connected components over dup pairs)

def dup_groups(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: connected components;
    group_id = min doc_id in the component. (doc_id, group_id) for every
    doc appearing in a pair.

    Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", 2014) over the
    symmetric edge list:

    - large-star: per node u with m = min(N(u) ∪ {u}), rewire every
      neighbor v > u to (v, m);
    - small-star: orient edges (hi, lo), per hi with m = min(N⁻(hi) ∪
      {hi}) rewire every small neighbor and hi itself to m.

    Converges when the edge set is fixed — then every edge is (node,
    root). Iterative and driver-coordinated, but each round is a constant
    number of distributed joins/aggs — no collect of the graph — and,
    unlike label propagation, intermediate edge sets stay near-linear in
    the input even on adversarial long-chain graphs, the property that
    matters at 10^12 edges. Measured against min-label pointer jumping
    (BASELINE.md round 4, local[32], identical assignments): on 1.14M
    LSH-style pair edges forming 60k planted shallow clusters star
    converged in 6 rounds / 19.9 s against 13 rounds / 24.2 s."""
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
        .persist()
    )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        # neighborhoods are undirected — symmetrize the (canonical,
        # hi→lo-oriented) input before grouping
        e = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        m = e.groupBy("src").agg(F.min("dst").alias("mn")).select(
            "src", F.least(F.col("mn"), F.col("src")).alias("m")
        )
        return (
            e.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        ).distinct()
        m = oriented.groupBy("hi").agg(F.min("lo").alias("m"))
        lo_edges = oriented.join(m, "hi").select(
            F.col("lo").alias("src"), F.col("m").alias("dst")
        )
        hi_edges = m.select(F.col("hi").alias("src"), F.col("m").alias("dst"))
        return (
            lo_edges.union(hi_edges)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    try:
        for _ in range(max_iter):
            new_edges = _small_star(_large_star(edges)).localCheckpoint()
            converged = new_edges.exceptAll(edges).isEmpty() and edges.exceptAll(
                new_edges
            ).isEmpty()
            edges = new_edges
            if converged:
                break
        # stars: every remaining edge points node → its component root
        roots = edges.groupBy("src").agg(F.min("dst").alias("group_id"))
        return (
            nodes.join(roots, nodes.node == roots.src, "left")
            .select(
                F.col("node").alias("doc_id"),
                F.coalesce("group_id", F.col("node")).alias("group_id"),
            )
        )
    finally:
        nodes.unpersist()


def dedup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The kept set after near-dup removal: every doc not in a dup group,
    plus each group's min-doc_id representative. (doc_id, group_id) —
    group_id = doc_id for singletons."""
    groups = dup_groups(pairs)
    with_groups = docs.select("doc_id").join(groups, "doc_id", "left").select(
        "doc_id", F.coalesce("group_id", F.col("doc_id")).alias("group_id")
    )
    return with_groups.filter(F.col("doc_id") == F.col("group_id"))


# ---------------------------------------------------------------------------
# embedding cosine

def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold over all pairs.
    (vec_a, vec_b, cosine), vec_a < vec_b. Brute force (oracle-checkable);
    the LSH-bucketed scale path is similarity.ann_lsh_topk's bucketing."""
    from websearchengine_spark.pipeline.similarity import cosine_col

    e = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 8,
    bucket_salt_target: int | None = 100_000,
) -> DataFrame:
    """Bucketed embedding near-dup pairs — the scale path for
    :func:`embedding_dup_pairs`: candidates = pairs sharing the full
    hyperplane-LSH signature (pipeline/similarity.py, production
    mapInPandas signatures), verified by exact cosine ≥ threshold.
    (vec_a, vec_b, cosine), vec_a < vec_b. Recall < 1 vs brute force by
    design; the DuckDB oracle runs the SAME bucketed computation, so the
    check is exact.

    Skew: near-duplicate clusters make LSH buckets quadratic hot-spots
    (a bucket 100× the mean ⇒ 10^4× the pairs on one task). Buckets larger
    than ``bucket_salt_target`` are salted: the left side keeps one
    deterministic salt (vec_id % n_salt), the right side replicates across
    all n_salt values — every qualifying pair is still produced exactly
    once, but the quadratic work spreads over n_salt tasks (the same
    broadcast-joined salt-factor pattern as the index build's hot terms)."""
    from websearchengine_spark.pipeline.similarity import cosine_col, lsh_signatures

    sigs = lsh_signatures(embeddings, n_planes=n_planes)
    e = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ).join(sigs, "vec_id")
    if bucket_salt_target is not None:
        salts = (
            sigs.groupBy("sig")
            .agg(F.count(F.lit(1)).alias("bn"))
            .select(
                "sig",
                F.ceil(F.col("bn") / F.lit(bucket_salt_target))
                .cast("int")
                .alias("ns"),
            )
        )
        left = e.join(F.broadcast(salts), "sig").withColumn(
            "salt", (F.col("vec_id") % F.col("ns")).cast("int")
        )
        right = e.join(F.broadcast(salts), "sig").withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.col("ns") - 1))
        )
        cand = (
            left.alias("x")
            .join(right.alias("y"), ["sig", "salt"])
            .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        )
    else:
        cand = (
            e.alias("x")
            .join(e.alias("y"), "sig")
            .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        )
    return (
        cand.select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("x.v").alias("va"),
            F.col("y.v").alias("vb"),
        )
        .withColumn("cosine", F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


# ---------------------------------------------------------------------------
# exact duplicated windows (substring-level dedup signal)


def duplicated_window_stats(
    docs: DataFrame, w: int = 8, min_count: int = 2
) -> DataFrame:
    """Exact duplicated-window detection — the token-window form of
    exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499): a w-token window occurring
    ``min_count``+ times ANYWHERE in the corpus (another doc or a repeat
    inside the same doc) marks its tokens as duplicated text. Unlike the
    document-level ops above (exact / MinHash / SimHash), this catches
    boilerplate and quotes embedded in otherwise-unique documents.

    → (doc_id, n_tokens, dup_windows, dup_tokens, dup_fraction) for EVERY
    input doc; ``dup_tokens`` is the exact size of the union of the
    duplicated windows' [pos, pos+w) token intervals, so
    ``dup_fraction`` is directly thresholdable by a curation filter
    (``.filter("dup_fraction < 0.5")``).

    Plan shape (100-TB audit): tokenize + positional windows + h60 are
    narrow JVM column ops; the WINDOW STREAM (the expensive explode) is
    built once — duplicated hashes come from a count over the wh hash
    partition (one exchange; the groupBy-then-self-join alternative
    builds it twice). The per-doc (doc_id, n_tokens) base for the final
    left join is a SECOND narrow text scan: deliberately so — caching
    the tokenized corpus to save that scan would spill at corpus scale
    and cost more than re-reading. The per-doc pass is a groupBy(doc_id) whose
    interval-union runs inside JVM array expressions (sort_array +
    zip_with + aggregate — no Python, state bounded by tokens-per-doc).
    Rows shuffled ≈ token count — the same volume class as the index
    build's posting exchange. Skew note: every occurrence of one window
    hash lands in one task either way (that concentration IS the
    duplicated content being measured); a corpus with a window repeated
    ~10^9 times should pre-filter such boilerplate (textstats.rep_stats)
    before this op.
    """
    from pyspark.sql import Window

    if w < 1:
        raise ValueError("window size w must be >= 1")
    big = F.lit(1 << 30)
    base = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", F.size("toks").cast("long").alias("n_tokens"), "toks")
    wins = base.select(
        "doc_id",
        F.posexplode(shingles(F.col("toks"), k=w, distinct=False)).alias(
            "pos", "win"
        ),
    ).select("doc_id", "pos", h60(F.col("win")).alias("wh"))
    hits = wins.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("wh"))
    ).filter(F.col("cnt") >= min_count)
    # sorted window starts → union of [pos, pos+w) intervals as one fold:
    # each start covers min(w, next_start - start) new tokens (the last
    # start covers w — coalesce via the `big` sentinel, no reliance on
    # either engine's null-skipping `least`)
    covered = F.aggregate(
        F.zip_with(
            F.col("ps"),
            F.slice(F.col("ps"), 2, 1 << 30),
            lambda a, b: F.least(F.lit(w), F.coalesce(b - a, big)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per = (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_windows"),
            F.sort_array(F.collect_list("pos")).alias("ps"),
        )
        .select("doc_id", "dup_windows", covered.alias("dup_tokens"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
        .withColumn(
            "dup_fraction",
            F.when(
                F.col("n_tokens") > 0,
                F.col("dup_tokens").cast("double") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
        )
    )


def drop_duplicated_windows(
    docs: DataFrame, w: int = 8, min_count: int = 2
) -> DataFrame:
    """Exact-substring REMOVAL (the acting half of
    :func:`duplicated_window_stats` — Lee et al. arXiv:2107.06499 §4 keep
    one copy, cut the rest): for every w-token window occurring
    ``min_count``+ times corpus-wide, the GLOBALLY FIRST occurrence (min
    (doc_id, pos)) survives and every later occurrence's tokens are cut
    from its document.

    → (doc_id, text, n_tokens, removed_tokens): ``text`` is the original
    string for untouched docs; edited docs are rebuilt from their
    surviving tokens joined by single spaces (the tokenizer's
    normalization — inter-token punctuation inside a removed-or-kept
    span is not reconstructed, the standard trade of token-level
    substring dedup).

    SINGLE-PASS semantics, stated honestly (the same shape Lee et al.
    run): cuts are decided against the ORIGINAL corpus. Removal is
    deterministic (same input → same output), but a cut can juxtapose
    previously-distant tokens into a w-window that is itself duplicated
    — a SECOND pass may find (and cut) residual duplicates the first
    could not see, so the op is not idempotent in general; run
    :func:`duplicated_window_stats` on the output to measure residue.
    Likewise "keep the first occurrence" is per-window: when two
    duplicated windows overlap, cutting one copy can remove tokens that
    belonged to the kept-first occurrence of the other.

    Plan shape: same skeleton as the stats op — one exchange on the
    60-bit window hash carrying (doc_id, pos); the keep-first rule is a
    row_number over (wh → doc_id, pos), the per-doc cut runs in JVM
    array expressions off a second narrow text scan (see the stats op's
    docstring for why that scan is cheaper than caching tokens).
    """
    if w < 1:
        raise ValueError("window size w must be >= 1")
    from pyspark.sql import Window

    base0 = docs.select(
        "doc_id", tokens("text").alias("toks")
    )
    wins = base0.select(
        "doc_id",
        F.posexplode(shingles(F.col("toks"), k=w, distinct=False)).alias(
            "pos", "win"
        ),
    ).select("doc_id", "pos", h60(F.col("win")).alias("wh"))
    by_wh = Window.partitionBy("wh")
    first_order = Window.partitionBy("wh").orderBy("doc_id", "pos")
    dup = (
        wins.select(
            "doc_id",
            "pos",
            F.count(F.lit(1)).over(by_wh).alias("cnt"),
            F.row_number().over(first_order).alias("rn"),
        )
        .filter((F.col("cnt") >= min_count) & (F.col("rn") > 1))
    )
    per = dup.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("ps")
    )
    base = docs.select("doc_id", "text", tokens("text").alias("toks"))
    joined = base.join(per, "doc_id", "left")
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("ps"), lambda s: F.sequence(s, s + F.lit(w - 1))
            )
        )
    )
    n_tokens = F.size("toks").cast("long")
    # surviving token INDEXES (0-based), then the tokens themselves —
    # toks is a projected attribute, so element_at inside the lambda is a
    # cheap attribute read, not a re-evaluated expression (see
    # hashing.shingles' Catalyst note)
    kept_idx = F.array_except(
        F.sequence(F.lit(0), n_tokens.cast("int") - 1), covered
    )
    clean = F.concat_ws(
        " ", F.transform(kept_idx, lambda i: F.element_at("toks", i + 1))
    )
    return joined.select(
        "doc_id",
        F.when(F.col("ps").isNull(), F.col("text"))
        .otherwise(clean)
        .alias("text"),
        n_tokens.alias("n_tokens"),
        # explicit when(): size(NULL) is -1 under non-ANSI Spark defaults,
        # so a coalesce would not catch the untouched-doc case
        F.when(F.col("ps").isNull(), F.lit(0))
        .otherwise(F.size(covered))
        .cast("long")
        .alias("removed_tokens"),
    )
