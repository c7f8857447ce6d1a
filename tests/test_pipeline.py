"""Unit tests for the training-data pipeline operators (pipeline/*) on
constructed inputs — semantics checks that the gate parity tests (which
compare whole-table output against DuckDB) don't cover directly."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from websearchengine_spark.pipeline import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),          # near dup of 0
        (3, "completely different content about spark and shuffles"),
        (4, "der hund und die katze sind nicht da und das ist gut"),  # German-ish
        (5, "xy"),                                                    # < 3 tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 2          # docs 0 and 1 collapse, survivor = min doc_id
    assert 1 not in out
    assert out[2] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_shingle_df_cap_drops_boilerplate(spark):
    # shingle shared by ALL docs is boilerplate; cap excludes it from pairing
    rows = [(i, f"common prefix here unique{i} tail{i} words{i}") for i in range(5)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(d, threshold=0.05, shingle_df_cap=None).count()
    capped = dedup.ngram_jaccard_pairs(d, threshold=0.05, shingle_df_cap=2).count()
    assert uncapped > 0 and capped == 0


def test_shingle_df_cap_default_bounds_hot_shingle_candidates(spark):
    # a boilerplate shingle shared by m > cap docs contributes m·(m-1)/2
    # candidate pairs uncapped — the DEFAULT cap must keep the candidate
    # count bounded so a naive call can't go quadratic on boilerplate
    m = 300  # > the default cap of 256
    rows = [(i, f"legal disclaimer text unique{i} tail{i} words{i}") for i in range(m)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # threshold 0 surfaces every surviving candidate pair
    default_pairs = dedup.ngram_jaccard_pairs(d, threshold=1e-9).count()
    assert default_pairs == 0  # boilerplate-only pairs all dropped by default
    uncapped = dedup.ngram_jaccard_pairs(d, threshold=1e-9, shingle_df_cap=None).count()
    assert uncapped == m * (m - 1) // 2  # the quadratic blowup the cap prevents


def test_minhash_lsh_matches_bruteforce_at_threshold(docs):
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in lsh and lsh[(0, 1)] == 1.0
    # every LSH-verified pair must appear in the exact all-pairs result
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert exact[k] == v


def test_simhash_exact_dup_zero_hamming(docs):
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[3]
    assert 0 <= fps[5] < (1 << dedup.SIMHASH_BITS)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_dup_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0


def test_simhash_banding_is_lossless(spark):
    """Chunk-LSH candidates must reproduce brute force for hamming ≤ 3."""
    rows = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(20))) for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_dup_pairs(d, max_hamming=3).collect()
    }
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(d).collect()}
    brute = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert banded == brute


def test_lang_id_heuristic(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[5] == "und"


def test_quality_score_bounds(docs):
    for r in textstats.quality_score(docs).collect():
        assert 0.0 <= r["quality"] <= 1.0
        assert 0.0 <= r["unique_ratio"] <= 1.0


def test_fingerprint_short_doc_sentinel(docs):
    out = {r["doc_id"]: r for r in textstats.fingerprint(docs).collect()}
    assert out[5]["n_shingles"] == 0 and out[5]["fp_min"] == -1 and out[5]["fp_sum"] == 0
    assert out[0]["fp_min"] == out[1]["fp_min"] and out[0]["fp_sum"] == out[1]["fp_sum"]


def test_dup_groups_and_survivors(spark, docs):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10)], "doc_a long, doc_b long"
    )
    groups = {r["doc_id"]: r["group_id"] for r in dedup.dup_groups(pairs).collect()}
    assert groups == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}
    all_docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    surv = sorted(r["doc_id"] for r in dedup.dedup_survivors(all_docs, pairs).collect())
    assert surv == [0, 1, 4, 5, 7, 8, 11]


def test_dup_groups_chain_convergence(spark):
    # a long chain exercises multi-iteration label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    groups = {r["doc_id"]: r["group_id"] for r in dedup.dup_groups(pairs).collect()}
    assert set(groups.values()) == {0} and len(groups) == 21


def _union_find_groups(pairs_list) -> dict[int, int]:
    """{doc: min doc of its component} by a plain union-find."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs_list:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dup_groups_star_equals_union_find(spark):
    """The large-star/small-star components behind dup_groups equal a
    pure-Python union-find: random graphs + the adversarial chain the star
    variant exists for (VERDICT r2 #9)."""
    import random

    rng = random.Random(7)
    cases = [
        [(i, i + 1) for i in range(30)],                    # long chain
        [(0, i) for i in range(1, 15)],                     # star
        [(rng.randrange(40), rng.randrange(40)) for _ in range(60)],  # random
        [(100, 1), (1, 50), (50, 2), (7, 7), (3, 4)],       # self-loop + mixed
    ]
    for pairs_list in cases:
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs_list], "doc_a long, doc_b long"
        )
        st = {r["doc_id"]: r["group_id"]
              for r in dedup.dup_groups(pairs).collect()}
        assert st == _union_find_groups(pairs_list), pairs_list
        # group ids are component minima
        assert all(g <= d for d, g in st.items())


def test_curation_pipeline_composed(spark):
    from websearchengine_spark.pipeline.curate import curate

    good = "the data pipeline cleans and filters the documents of the corpus"
    rows = [
        (0, good),                                   # keeper
        (1, good),                                   # exact dup of 0 → dropped
        (2, good + " with one extra tail phrase"),   # near dup of 0 → grouped, dropped
        (3, "der hund und die katze und das haus und der baum und die tür"),  # not en
        (4, "a a a a a a a a a a a a a a a a"),      # low quality (uniq ratio)
        (5, "spark shuffles partition data across the cluster and the executors run it"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curate(docs, min_quality=0.5, lang="en",
                                          jaccard_threshold=0.3).collect()}
    assert set(out) == {0, 5}
    assert out[0]["group_id"] == 0 and out[0]["lang_pred"] == "en"
    assert out[5]["quality"] >= 0.5


# ---------------------------------------------------------------------------
# similarity


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=8).astype(np.float32)
    rows = []
    for i in range(30):
        v = rng.normal(size=8).astype(np.float32)
        if i % 5 == 0:
            v = base + 0.01 * v  # cluster of near-dups of `base`
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ranks_near_dups_first(emb):
    out = similarity.cosine_topk(emb, n_queries=1, k=5).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    top = out[0]
    assert top["vec_id"] % 5 == 0 and top["cosine"] > 0.99  # same cluster


def test_ann_results_subset_of_bucket_and_exactly_scored(emb):
    sigs = {r["vec_id"]: r["sig"] for r in similarity.lsh_signatures(emb, n_planes=8).collect()}
    ann = similarity.ann_lsh_topk(emb, n_queries=2, k=10, n_planes=8).collect()
    brute = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in similarity.cosine_topk(emb, n_queries=2, k=29).collect()
    }
    assert len(ann) > 0
    for r in ann:
        assert sigs[r["vec_id"]] == sigs[r["query_id"]]          # same bucket only
        assert brute[(r["query_id"], r["vec_id"])] == r["cosine"]  # exact scores


def test_ivf_full_probe_equals_exact_topk(emb):
    """nprobe == n_lists probes every inverted list, so IVF must reproduce
    the exact brute-force top-k bit-for-bit (ranking AND scores)."""
    full = similarity.ivf_topk(emb, n_queries=3, k=8, n_lists=4, nprobe=4).collect()
    exact = similarity.cosine_topk(emb, n_queries=3, k=8).collect()
    assert [tuple(r) for r in full] and [tuple(r) for r in full] == [
        tuple(r) for r in exact
    ]


def test_ivf_probe_subset_and_exactly_scored(emb):
    """nprobe < n_lists results come only from probed lists and carry the
    exact (unapproximated) cosine for every returned vector."""
    asg = {r["vec_id"]: r["list_id"] for r in similarity.ivf_assignments(emb, n_lists=4).collect()}
    ann = similarity.ivf_topk(emb, n_queries=2, k=10, n_lists=4, nprobe=2).collect()
    brute = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in similarity.cosine_topk(emb, n_queries=2, k=29).collect()
    }
    assert len(ann) > 0
    probed: dict[int, set] = {}
    for r in ann:
        probed.setdefault(r["query_id"], set()).add(asg[r["vec_id"]])
        assert brute[(r["query_id"], r["vec_id"])] == r["cosine"]
    for lists in probed.values():
        assert len(lists) <= 2  # only nprobe lists contribute


def test_embedding_dup_pairs_cluster(emb):
    pairs = dedup.embedding_dup_pairs(emb, threshold=0.99).collect()
    ids = {(r["vec_a"], r["vec_b"]) for r in pairs}
    assert (0, 5) in ids or (0, 10) in ids
    for r in pairs:
        assert r["vec_a"] < r["vec_b"]


# ---------------------------------------------------------------------------
# multimodal


def test_media_schema_and_stats(docs):
    m = multimodal.to_media(docs)
    assert [f.name for f in m.schema.fields] == [
        f.name for f in multimodal.MEDIA_SCHEMA.fields
    ]
    stats = {r["doc_id"]: r for r in multimodal.media_stats(docs).collect()}
    assert stats[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert stats[0]["kind"] == "image" and stats[1]["kind"] == "audio"


def test_frame_sample_plumbing(docs):
    frames = multimodal.frame_sample(multimodal.to_media(docs), frame_size=16, max_frames=3)
    rows = frames.filter(F.col("doc_id") == 0).orderBy("frame_no").collect()
    payload = b"the quick brown fox jumps over the lazy dog"
    decoded = multimodal.fake_decode_payload(payload, "image")
    assert len(decoded) % 16 == 0
    assert len(rows) == 3  # ceil(48/16) capped at 3
    for r in rows:
        chunk = decoded[r["frame_no"] * 16 : (r["frame_no"] + 1) * 16]
        assert bytes(r["frame_bytes"]) == chunk.tobytes()
        assert r["frame_checksum"] == int(chunk.astype(np.uint64).sum())


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(b"xx", "image")


# ---------------------------------------------------------------------------
# production (mapInPandas) plans vs their explode-based oracle-check plans


@pytest.fixture(scope="module")
def emb_skewed(spark):
    """Synthetic embeddings with a planted near-dup cluster ~100x the mean
    LSH bucket size: ids 0-199 are tiny jitters of one base vector (one hot
    bucket), 200-263 are spread-out singletons."""
    import random

    rng = random.Random(13)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = []
    for i in range(200):
        rows.append((i, [float(b) + rng.uniform(-1e-3, 1e-3) for b in base]))
    for i in range(200, 264):
        rows.append((i, [float(rng.uniform(-1, 1)) for _ in range(16)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_signatures_production_matches_explode(emb_skewed):
    prod = {r["vec_id"]: r["sig"] for r in similarity.lsh_signatures(emb_skewed).collect()}
    expl = {
        r["vec_id"]: r["sig"]
        for r in similarity.lsh_signatures_explode(emb_skewed).collect()
    }
    assert prod == expl  # exact integer arithmetic → bit identity


def test_simhash_production_matches_explode(docs):
    prod = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    expl = {r["doc_id"]: r["simhash"] for r in dedup.simhash_explode(docs).collect()}
    assert prod == expl


def test_embedding_dup_lsh_salt_invariant(emb_skewed):
    """The planted hot bucket (200 near-dups) is ~100x the mean bucket; the
    salted self-join must produce EXACTLY the unsalted pair set."""
    unsalted = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup.embedding_dup_pairs_lsh(
            emb_skewed, threshold=0.9, bucket_salt_target=None
        ).collect()
    }
    salted = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup.embedding_dup_pairs_lsh(
            emb_skewed, threshold=0.9, bucket_salt_target=20
        ).collect()
    }
    assert salted == unsalted
    assert len(salted) >= 199 * 100  # the planted clique dominates


def test_ann_lsh_topk_pre_salt_rank_identical(emb_skewed):
    plain = sorted(
        tuple(r) for r in similarity.ann_lsh_topk(emb_skewed, n_queries=3, k=10).collect()
    )
    salted = sorted(
        tuple(r)
        for r in similarity.ann_lsh_topk(
            emb_skewed, n_queries=3, k=10, pre_topk_salt=7
        ).collect()
    )
    assert plain == salted and len(plain) == 30


# ---------------------------------------------------------------------------
# pack.py: sequence packing + train/val split; textstats.rep_stats


def test_seq_pack_spans_and_partition_invariance(spark):
    # 5 docs with known token counts: 3, 0, 4, 2, 5 → starts 0,3,3,7,9
    rows = [
        (10, "a b c"),
        (11, ""),
        (12, "d e f g"),
        (13, "h i"),
        (14, "j k l m n"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    from websearchengine_spark.pipeline.pack import seq_pack

    out = {r["doc_id"]: r.asDict() for r in seq_pack(d, seq_len=4).collect()}
    assert [out[i]["token_start"] for i in (10, 11, 12, 13, 14)] == [0, 3, 3, 7, 9]
    # doc 10: tokens [0,3) → pack 0 only; doc 12: [3,7) → packs 0-1;
    # doc 14: [9,14) → packs 2-3; empty doc spans 0 packs
    assert (out[10]["first_pack"], out[10]["last_pack"], out[10]["n_packs"]) == (0, 0, 1)
    assert (out[12]["first_pack"], out[12]["last_pack"], out[12]["n_packs"]) == (0, 1, 2)
    assert (out[14]["first_pack"], out[14]["last_pack"], out[14]["n_packs"]) == (2, 3, 2)
    assert out[11]["n_packs"] == 0
    # partition-count invariance: the spans depend only on doc_id order
    for nparts in (1, 3, 7):
        again = {
            r["doc_id"]: r.asDict()
            for r in seq_pack(d, seq_len=4, num_partitions=nparts).collect()
        }
        assert again == out


def test_train_val_split_deterministic_and_thresholded(docs):
    from websearchengine_spark.pipeline.pack import train_val_split

    out = {r["doc_id"]: (r["h_mod"], r["split"]) for r in train_val_split(docs).collect()}
    for h, s in out.values():
        assert 0 <= h < 1000
        assert s == ("val" if h >= 950 else "train")
    # content-keyed: exact-dup docs 0 and 1 land in the same split
    assert out[0] == out[1]
    # stable across re-evaluation
    assert out == {
        r["doc_id"]: (r["h_mod"], r["split"]) for r in train_val_split(docs).collect()
    }


def test_rep_stats_known_values(spark):
    rows = [
        # 3 non-empty lines, one duplicated; tokens: the(3) cat(2) sat(1)
        (0, "the cat\nthe cat\n\nthe sat"),
        (1, ""),                       # no lines, no tokens
        (2, "unique words only here"),  # no repetition
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in textstats.rep_stats(d).collect()}
    assert out[0]["n_lines"] == 3
    assert out[0]["dup_line_frac"] == pytest.approx(1.0 - 2.0 / 3.0, abs=1e-6)
    assert out[0]["max_line_len"] == 7
    assert out[0]["top_token_frac"] == pytest.approx(3.0 / 6.0, abs=1e-6)
    assert out[1]["n_lines"] == 0 and out[1]["dup_line_frac"] == 0.0
    assert out[1]["max_line_len"] == 0 and out[1]["top_token_frac"] == 0.0
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["top_token_frac"] == pytest.approx(0.25, abs=1e-6)


# ---------------------------------------------------------------------------
# exact duplicated windows (substring-level dedup)


def test_duplicated_windows_cross_doc_and_self_repeat(spark):
    rows = [
        (0, "a b c d e f g h i j"),            # shares "a b c d" with doc 1
        (1, "x y z a b c d q r s"),
        (2, "m n o p m n o p"),                # self-repetition counts
        (3, "unique words only here today ok"),
        (4, "aa bb"),                          # < w tokens → zero windows
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.duplicated_window_stats(d, w=4).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4}          # every doc present
    assert out[0]["dup_windows"] == 1 and out[0]["dup_tokens"] == 4
    assert out[1]["dup_windows"] == 1 and out[1]["dup_tokens"] == 4
    # doc 2: windows at 0 and 4 are identical → union [0,4)∪[4,8) = 8 tokens
    assert out[2]["dup_windows"] == 2 and out[2]["dup_tokens"] == 8
    assert out[2]["dup_fraction"] == 1.0
    assert out[3]["dup_windows"] == 0 and out[3]["dup_fraction"] == 0.0
    assert out[4]["n_tokens"] == 2 and out[4]["dup_windows"] == 0


def test_duplicated_windows_overlap_union_is_exact(spark):
    # fully-duplicated 6-token doc: dup windows at 0,1,2 (w=4) overlap;
    # the interval union must count 6 tokens, not 3·4
    rows = [(0, "p q r s t u"), (1, "p q r s t u")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.duplicated_window_stats(d, w=4).collect()}
    for i in (0, 1):
        assert out[i]["dup_windows"] == 3
        assert out[i]["dup_tokens"] == 6 == out[i]["n_tokens"]
        assert out[i]["dup_fraction"] == 1.0


def test_duplicated_windows_match_duckdb_oracle(spark):
    import duckdb

    from websearchengine_spark.pipeline.hashing import (
        sql_h60,
        sql_shingles,
        sql_tokens,
    )

    w = 5
    boiler = "this content is provided as is without warranty of any kind"
    quote = "to be or not to be that is the question"
    rows = []
    for i in range(40):
        body = f"doc {i} body " + " ".join(
            f"w{(i * 7 + j) % 13}" for j in range(i % 9)
        )
        if i % 3 == 0:
            body += " " + boiler
        if i % 5 == 0:
            body = quote + " " + body
        rows.append((i, body))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in dedup.duplicated_window_stats(d, w=w).collect()
    )
    con = duckdb.connect()
    con.register("docs_in", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    sh = sql_shingles("l", w, distinct=False)
    oracle = con.execute(f"""
        WITH base AS (
          SELECT doc_id, len({sql_tokens('text')})::BIGINT AS n_tokens,
                 {sql_tokens('text')} AS l
          FROM docs_in
        ),
        wins AS (
          SELECT doc_id, unnest(range(len({sh}))) AS pos,
                 unnest(list_transform({sh}, s -> {sql_h60('s')})) AS wh
          FROM base
        ),
        dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
        gaps AS (
          SELECT doc_id,
                 least({w}, coalesce(
                   lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                   1073741824)) AS cov
          FROM wins SEMI JOIN dup USING (wh)
        ),
        per AS (
          SELECT doc_id, count(*)::BIGINT AS dup_windows,
                 sum(cov)::BIGINT AS dup_tokens
          FROM gaps GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_tokens,
               coalesce(dup_windows, 0) AS dup_windows,
               coalesce(dup_tokens, 0) AS dup_tokens,
               CASE WHEN b.n_tokens > 0
                    THEN coalesce(dup_tokens, 0)::DOUBLE / b.n_tokens
                    ELSE 0.0 END AS dup_fraction
        FROM base b LEFT JOIN per USING (doc_id)
        ORDER BY b.doc_id
    """).fetchall()
    assert got == sorted(tuple(r) for r in oracle)


def test_drop_duplicated_windows_keeps_first_occurrence(spark):
    rows = [
        (0, "a b c d e f"),                    # first occurrence survives whole
        (1, "x y a b c d z w"),                # its "a b c d" copy is cut
        (2, "m n o p m n o p"),                # self-repeat: second copy cut
        (3, "totally unique text here now"),   # untouched → original string
        (4, "Short, one!"),                    # < w tokens, punctuation kept
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.drop_duplicated_windows(d, w=4).collect()}
    assert out[0]["text"] == "a b c d e f" and out[0]["removed_tokens"] == 0
    assert out[1]["text"] == "x y z w" and out[1]["removed_tokens"] == 4
    assert out[2]["text"] == "m n o p" and out[2]["removed_tokens"] == 4
    assert out[3]["text"] == "totally unique text here now"
    assert out[4]["text"] == "Short, one!"  # untouched docs keep raw text
    assert out[4]["n_tokens"] == 2


def test_drop_duplicated_windows_single_pass_semantics(spark):
    # deterministic single-pass behavior: when no cut juxtaposes tokens
    # into NEW duplicate windows, a second pass finds nothing more
    rows = [(0, "p q r s t u"), (1, "p q r s t u"), (2, "k l m n o p q r s t")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    once = dedup.drop_duplicated_windows(d, w=4)
    again = dedup.drop_duplicated_windows(
        once.select("doc_id", "text"), w=4
    )
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: r["text"] for r in again.collect()}
    assert a == b               # nothing left to cut on the second pass
    assert a[0] == "p q r s t u" and a[1] == ""   # doc 1 fully cut
    # ...and the documented NON-idempotent case: a cut juxtaposes 'x'/'z'
    # into the duplicated window 'x z', which only a second pass can see
    rows2 = [(0, "a b"), (1, "x z"), (2, "x a b z")]
    d2 = spark.createDataFrame(rows2, "doc_id long, text string")
    p1 = {r["doc_id"]: r["text"]
          for r in dedup.drop_duplicated_windows(d2, w=2).collect()}
    assert p1[2] == "x z"       # first pass cuts only the 'a b' copy
    p2 = {r["doc_id"]: r["text"]
          for r in dedup.drop_duplicated_windows(
              dedup.drop_duplicated_windows(d2, w=2)
              .select("doc_id", "text"), w=2).collect()}
    assert p2[2] == ""          # the residue falls on the second pass


def test_drop_duplicated_windows_matches_duckdb_oracle(spark):
    import duckdb
    import pandas as pd

    from websearchengine_spark.pipeline.hashing import (
        sql_h60,
        sql_shingles,
        sql_tokens,
    )

    w = 4
    boiler = "all rights reserved contact us for details"
    rows = []
    for i in range(30):
        body = f"doc {i} " + " ".join(f"t{(i * 5 + j) % 11}" for j in range(i % 7))
        if i % 4 == 0:
            body += " " + boiler
        if i % 6 == 0:
            body = boiler + " " + body
        rows.append((i, body))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in dedup.drop_duplicated_windows(d, w=w).collect()
    )
    con = duckdb.connect()
    con.register("docs_in", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sh = sql_shingles("l", w, distinct=False)
    oracle = con.execute(f"""
        WITH base AS (
          SELECT doc_id, text, {sql_tokens('text')} AS l FROM docs_in
        ),
        wins AS (
          SELECT doc_id, unnest(range(len({sh}))) AS pos,
                 unnest(list_transform({sh}, s -> {sql_h60('s')})) AS wh
          FROM base
        ),
        marked AS (
          SELECT doc_id, pos,
                 count(*) OVER (PARTITION BY wh) AS cnt,
                 row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
          FROM wins
        ),
        per AS (
          SELECT doc_id, list_sort(list(pos)) AS ps
          FROM marked WHERE cnt >= 2 AND rn > 1 GROUP BY doc_id
        ),
        cut AS (
          SELECT b.doc_id, b.text, len(b.l)::BIGINT AS n_tokens, p.ps,
                 list_distinct(flatten(
                   list_transform(p.ps, s -> range(s, s + {w})))) AS cov
          FROM base b LEFT JOIN per p USING (doc_id)
        )
        SELECT doc_id,
               CASE WHEN ps IS NULL THEN text
                    ELSE array_to_string(
                      list_filter(l, (x, i) -> NOT list_contains(cov, i - 1)),
                      ' ')
               END AS text,
               n_tokens,
               CASE WHEN ps IS NULL THEN 0 ELSE len(cov) END::BIGINT
                 AS removed_tokens
        FROM cut JOIN base USING (doc_id, text)
        ORDER BY doc_id
    """).fetchall()
    assert got == sorted(tuple(r) for r in oracle)
