"""Correctness-gate entries for the training-data pipeline operators
(pipeline/*): Spark implementation + exact DuckDB oracle SQL.

Same exactness rules as plans/gate_queries.py: shared md5-based h60 hash
(identical integers both engines), ROUND(...,6) on float outputs, identical
column aliases. The `documents` / `embeddings` parquet tables are
pre-registered as DuckDB views by the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from websearchengine_spark.pipeline import dedup, multimodal, similarity, textstats
from websearchengine_spark.pipeline.hashing import MASK40, sql_h60, sql_shingles, sql_tokens

# ---------------------------------------------------------------------------
# shared SQL fragments

SQL_TOKS = f"toks AS (SELECT doc_id, {sql_tokens('text')} AS l FROM documents)"
SQL_SH = f"sh AS (SELECT doc_id, {sql_shingles('l', 3)} AS s FROM toks)"
SQL_EMB = (
    "emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v"
    " FROM embeddings)"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# text analysis

def q_token_stats(spark, sf_dir):
    return textstats.token_stats(_docs(spark, sf_dir))


SQL_TOKEN_STATS = f"""
WITH {SQL_TOKS}
SELECT doc_id,
       len(l)::BIGINT AS n_tokens,
       len(list_distinct(l))::BIGINT AS n_unique,
       length(d.text)::BIGINT AS n_chars,
       ROUND(CASE WHEN len(l) > 0
             THEN list_aggregate(list_transform(l, x -> len(x)), 'sum')::DOUBLE / len(l)
             ELSE 0.0 END, 6) AS avg_token_len
FROM toks JOIN documents d USING (doc_id)
"""


def q_quality_score(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


_STOPS_SQL = "', '".join(textstats.QUALITY_STOPWORDS)
SQL_QUALITY = f"""
WITH {SQL_TOKS},
f AS (
  SELECT doc_id,
         len(l)::DOUBLE AS n,
         len(list_distinct(l))::DOUBLE AS uniq,
         len(list_filter(l, t -> t IN ('{_STOPS_SQL}')))::DOUBLE AS stops
  FROM toks
)
SELECT doc_id,
       n::BIGINT AS n_tokens,
       ROUND(CASE WHEN n > 0 THEN uniq / n ELSE 0.0 END, 6) AS unique_ratio,
       ROUND(CASE WHEN n > 0 THEN stops / n ELSE 0.0 END, 6) AS stop_ratio,
       ROUND(CASE WHEN n > 0 THEN
           0.3 * least(n / 100.0, 1.0)
         + 0.4 * (uniq / n)
         + 0.3 * (1.0 - abs(stops / n - 0.4))
       ELSE 0.0 END, 6) AS quality
FROM f
"""


def q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def _sql_lang_id() -> str:
    ratio_cols = []
    for lang, sw in textstats.LANG_STOPWORDS.items():
        lst = "', '".join(sw)
        ratio_cols.append(
            f"CASE WHEN len(l) > 0 THEN len(list_filter(l, t -> t IN"
            f" ('{lst}')))::DOUBLE / len(l) ELSE 0.0 END AS r_{lang}"
        )
    langs = sorted(textstats.LANG_STOPWORDS)
    best = f"greatest({', '.join('r_' + x for x in langs)})"
    pred = "CASE WHEN best <= 0.0 THEN 'und' " + " ".join(
        f"WHEN r_{x} = best THEN '{x}'" for x in langs
    ) + " END"
    return f"""
WITH {SQL_TOKS},
r AS (SELECT doc_id, {', '.join(ratio_cols)} FROM toks),
b AS (SELECT *, {best} AS best FROM r)
SELECT doc_id, {pred} AS lang_pred, ROUND(best, 6) AS lang_confidence FROM b
"""


def q_rep_stats(spark, sf_dir):
    return textstats.rep_stats(_docs(spark, sf_dir))


SQL_REP_STATS = f"""
WITH {SQL_TOKS},
tf AS (
  SELECT doc_id, max(c)::BIGINT AS top_cnt
  FROM (SELECT doc_id, t, count(*) AS c
        FROM toks, unnest(l) AS u(t) GROUP BY doc_id, t)
  GROUP BY doc_id
),
ln AS (
  SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
  FROM documents
)
SELECT tk.doc_id,
       len(ls)::BIGINT AS n_lines,
       ROUND(CASE WHEN len(ls) > 0
             THEN 1.0 - len(list_distinct(ls))::DOUBLE / len(ls)
             ELSE 0.0 END, 6) AS dup_line_frac,
       COALESCE(list_max(list_transform(ls, x -> len(x))), 0)::BIGINT
         AS max_line_len,
       ROUND(CASE WHEN len(l) > 0
             THEN COALESCE(top_cnt, 0)::DOUBLE / len(l)
             ELSE 0.0 END, 6) AS top_token_frac
FROM toks tk JOIN ln USING (doc_id) LEFT JOIN tf USING (doc_id)
"""


def q_seq_pack(spark, sf_dir):
    from websearchengine_spark.pipeline.pack import seq_pack

    return seq_pack(_docs(spark, sf_dir), seq_len=2048)


SQL_SEQ_PACK = f"""
WITH {SQL_TOKS},
t AS (SELECT doc_id, len(l)::BIGINT AS n_tokens FROM toks),
c AS (SELECT doc_id, n_tokens,
      COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        AS token_start
      FROM t),
p AS (SELECT doc_id, n_tokens, token_start,
        token_start // 2048 AS fp,
        CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // 2048
             ELSE token_start // 2048 END AS lp
      FROM c)
SELECT doc_id, n_tokens, token_start,
       fp::BIGINT AS first_pack, lp::BIGINT AS last_pack,
       (CASE WHEN n_tokens > 0 THEN lp - fp + 1 ELSE 0 END)::BIGINT AS n_packs
FROM p
"""


def q_train_val_split(spark, sf_dir):
    from websearchengine_spark.pipeline.pack import train_val_split

    return train_val_split(_docs(spark, sf_dir), val_permille=50)


_H_TEXT = sql_h60("text")
SQL_TRAIN_VAL_SPLIT = f"""
SELECT doc_id,
       ({_H_TEXT} % 1000)::BIGINT AS h_mod,
       CASE WHEN ({_H_TEXT} % 1000) >= 950 THEN 'val' ELSE 'train' END AS split
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


SQL_FINGERPRINT = f"""
WITH {SQL_TOKS}, {SQL_SH},
h AS (SELECT doc_id, len(s)::BIGINT AS n_shingles,
             list_transform(s, x -> {sql_h60('x')}) AS hs
      FROM sh)
SELECT doc_id, n_shingles,
       COALESCE(list_aggregate(hs, 'min'), -1)::BIGINT AS fp_min,
       COALESCE(list_aggregate(list_transform(hs, x -> x & {MASK40}), 'sum'), 0)::BIGINT AS fp_sum
FROM h
"""


def q_bpe_token_stats(spark, sf_dir):
    return textstats.bpe_token_stats(_docs(spark, sf_dir))


SQL_BPE_TOKEN_STATS = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{textstats.BPE_ISH_PATTERN}'))::BIGINT AS n_pieces,
       len(list_distinct(regexp_extract_all(lower(text), '{textstats.BPE_ISH_PATTERN}')))::BIGINT AS n_unique_pieces
FROM documents
"""


# ---------------------------------------------------------------------------
# event-log analytics (events table)

def q_windowed_stats(spark, sf_dir):
    from websearchengine_spark.pipeline.events import windowed_stats

    return windowed_stats(_events(spark, sf_dir), window="1 hour")


# hourly buckets align identically in both engines (Spark windows are
# epoch-aligned; DuckDB time_bucket's 2000-01-03 origin is hour-aligned)
SQL_WINDOWED_STATS = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*)::BIGINT AS n_events,
       ROUND(list_aggregate(list(value ORDER BY event_id), 'sum'), 6) AS value_sum
FROM events GROUP BY 1, 2
"""


def q_props_extract(spark, sf_dir):
    from websearchengine_spark.pipeline.events import props_extract

    return props_extract(_events(spark, sf_dir))


SQL_PROPS_EXTRACT = """
SELECT event_id, (json_extract(props, '$.k'))::BIGINT AS k FROM events
"""


def q_user_sessions(spark, sf_dir):
    from websearchengine_spark.pipeline.events import user_sessions

    return user_sessions(_events(spark, sf_dir), gap_minutes=30)


SQL_USER_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
idx AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM flagged
)
SELECT user_id, session_idx::BIGINT AS session_idx,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*)::BIGINT AS n_events
FROM idx GROUP BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# dedup

def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


SQL_EXACT_DEDUP = f"""
SELECT MIN(doc_id)::BIGINT AS doc_id, COUNT(*)::BIGINT AS n_copies
FROM documents GROUP BY {sql_h60('text')}
"""


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.5)


SQL_NGRAM_JACCARD = f"""
WITH {SQL_TOKS}, {SQL_SH},
e0 AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
-- mirror ngram_jaccard_pairs' default shingle_df_cap=256: shingles in more
-- than 256 docs are dropped before the pair join (n_sh stays UNCAPPED on
-- both sides, exactly as the Spark plan computes it)
e AS (
  SELECT * FROM e0 WHERE shingle IN (
    SELECT shingle FROM e0 GROUP BY shingle HAVING COUNT(*) <= 256
  )
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
         COUNT(*) AS i
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
         ROUND(i::DOUBLE / (na + nb - i)::DOUBLE, 6) AS jaccard
  FROM inter
) WHERE jaccard >= 0.5
"""


def q_pii_scrub(spark, sf_dir):
    from pyspark.sql import functions as F

    # deterministic enrichment so the gate is non-vacuous: every 7th doc
    # gains a synthetic email + long id (identically derived in the oracle)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com ref 9876543210"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return textstats.pii_scrub(docs)


SQL_PII_SCRUB = """
WITH enriched AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact u' || doc_id::VARCHAR || '@example.com ref 9876543210'
              ELSE text END AS text
  FROM documents
),
no_email AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+'))::BIGINT AS n_emails,
         regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+', '<EMAIL>', 'g') AS t1
  FROM enriched
)
SELECT doc_id, n_emails,
       len(regexp_extract_all(t1, '[0-9]{9,}'))::BIGINT AS n_longnums,
       regexp_replace(t1, '[0-9]{9,}', '<NUM>', 'g') AS text_clean
FROM no_email
"""


def q_decontaminate(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    # gate benchmark = a deterministic subset of the same table (every 97th
    # doc) — guarantees non-vacuous hits (the subset overlaps itself, and
    # near-copies of benchmark docs get flagged too)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return dedup.decontaminate(docs, bench, k=5)


SQL_DECONTAMINATE = f"""
WITH {SQL_TOKS},
sh5 AS (SELECT doc_id, {sql_shingles('l', 5)} AS s FROM toks),
ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh5),
bench AS (SELECT DISTINCT {sql_h60('shingle')} AS sh_h
          FROM ex WHERE doc_id % 97 = 0),
hits AS (
  SELECT e.doc_id, COUNT(*) AS n_hits
  FROM (SELECT doc_id, {sql_h60('shingle')} AS sh_h FROM ex) e
  JOIN bench USING (sh_h)
  GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
       (COALESCE(h.n_hits, 0) > 0)::INT AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_domain_mix(spark, sf_dir):
    from websearchengine_spark.pipeline.curate import domain_mix

    docs = _docs(spark, sf_dir)
    rates = {f"src{i}": 1000 - i * 100 for i in range(10)}
    return domain_mix(docs, rates).select("doc_id", "source")


SQL_DOMAIN_MIX = f"""
WITH rates AS (
  SELECT 'src' || i::VARCHAR AS source, (1000 - i * 100) AS rate
  FROM range(10) t(i)
)
SELECT d.doc_id::BIGINT AS doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE ({sql_h60("d.source || ':' || d.doc_id::VARCHAR")} % 1000) < r.rate
"""


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir), num_hashes=16, k=3)


_MH_P = dedup.MINHASH_P
_MH_SEEDS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.minhash_seed_params(16))
)
# shared CTE chain: shingle rows → one h60 per shingle → universal-hash
# min-aggregate per (doc, seed) — same constants as the Spark plan
SQL_SIGS_CTES = f"""
e AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
hashed AS (SELECT doc_id, {sql_h60('shingle')} % {_MH_P} AS h FROM e),
sigs AS (
  SELECT doc_id, s.seed, MIN((s.a * h + s.b) % {_MH_P}) AS minhash
  FROM hashed CROSS JOIN (VALUES {_MH_SEEDS}) AS s(seed, a, b)
  GROUP BY doc_id, s.seed
)"""

SQL_MINHASH_SIGS = f"""
WITH {SQL_TOKS}, {SQL_SH},
{SQL_SIGS_CTES}
SELECT doc_id, seed::BIGINT AS seed, minhash::BIGINT AS minhash FROM sigs
"""


def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=16, bands=4, k=3, threshold=0.5
    )


SQL_MINHASH_LSH = f"""
WITH {SQL_TOKS}, {SQL_SH},
{SQL_SIGS_CTES},
bandsig AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS sig
  FROM sigs GROUP BY doc_id, seed // 4
),
keys AS (
  SELECT doc_id, band, {sql_h60("band::VARCHAR || '|' || sig")} AS band_key
  FROM bandsig
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM keys x JOIN keys y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(a.s, b.s))::DOUBLE AS i,
         len(a.s)::DOUBLE AS na, len(b.s)::DOUBLE AS nb
  FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
         ROUND(i / (na + nb - i), 6) AS jaccard
  FROM verified
) WHERE jaccard >= 0.5
"""


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


SQL_SIMHASH_FP = f"""
{SQL_TOKS},
tf AS (
  SELECT doc_id, tok, COUNT(*)::BIGINT AS tf, {sql_h60('tok')} AS h
  FROM (SELECT doc_id, unnest(l) AS tok FROM toks)
  GROUP BY doc_id, tok
),
comps AS (
  SELECT doc_id, g.j,
         SUM(CASE WHEN (h >> g.j) & 1 = 1 THEN tf ELSE -tf END) AS v
  FROM tf CROSS JOIN generate_series(0, 59) AS g(j)
  GROUP BY doc_id, g.j
),
fp AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
  FROM comps GROUP BY doc_id
)
"""

SQL_SIMHASH = f"""
WITH {SQL_SIMHASH_FP}
SELECT d.doc_id, COALESCE(fp.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN fp USING (doc_id)
"""


def q_simhash_pairs(spark, sf_dir):
    return dedup.simhash_dup_pairs(_docs(spark, sf_dir), max_hamming=3)


# oracle brute-forces all pairs; the Spark plan is chunk-LSH-banded —
# identical output by the pigeonhole argument (see dedup.simhash_dup_pairs)
SQL_SIMHASH_PAIRS = f"""
WITH {SQL_SIMHASH_FP},
f AS (SELECT d.doc_id, COALESCE(fp.simhash, 0) AS simhash
      FROM documents d LEFT JOIN fp USING (doc_id))
SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM f a JOIN f b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dup_groups(spark, sf_dir):
    """Connected-components dup groups over the MinHash-LSH pair set
    (Spark's large-star/small-star vs WITH RECURSIVE in the oracle — same
    fixpoint)."""
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=16, bands=4, k=3, threshold=0.5
    )
    return dedup.dup_groups(pairs)


SQL_DUP_GROUPS = f"""
WITH RECURSIVE {SQL_TOKS}, {SQL_SH},
{SQL_SIGS_CTES},
bandsig AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS sig
  FROM sigs GROUP BY doc_id, seed // 4
),
keys AS (SELECT doc_id, band, {sql_h60("band::VARCHAR || '|' || sig")} AS band_key FROM bandsig),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM keys x JOIN keys y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.s, b.s))::DOUBLE AS i,
           len(a.s)::DOUBLE AS na, len(b.s)::DOUBLE AS nb
    FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id
  ) WHERE ROUND(i / (na + nb - i), 6) >= 0.5
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
cc(node, label) AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.b AS node, least(c.label, e.b) AS label
  FROM cc c JOIN edges e ON c.node = e.a
)
SELECT node::BIGINT AS doc_id, MIN(label)::BIGINT AS group_id
FROM cc GROUP BY node
"""


def q_embedding_dup(spark, sf_dir):
    return dedup.embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.4)


SQL_COS = (
    "CASE WHEN list_dot_product({a}, {a}) > 0 AND list_dot_product({b}, {b}) > 0"
    " THEN list_dot_product({a}, {b})"
    " / sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b}))"
    " ELSE 0.0 END"
)

SQL_EMBEDDING_DUP = f"""
WITH {SQL_EMB}
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id::BIGINT AS vec_a, b.vec_id::BIGINT AS vec_b,
         ROUND({SQL_COS.format(a='a.v', b='b.v')}, 6) AS cosine
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.4
"""


def q_embedding_dup_lsh(spark, sf_dir):
    """Bucketed (LSH) embedding near-dup pairs — the scale path for
    dd_embedding_dup_pairs; bucket_salt_target small enough that the
    skew salting actually engages at gate SF (output is salt-invariant)."""
    return dedup.embedding_dup_pairs_lsh(
        _emb(spark, sf_dir), threshold=0.1, n_planes=8, bucket_salt_target=50
    )


# defined after SQL_LSH_SIG_BODY below
SQL_EMBEDDING_DUP_LSH_TMPL = """
WITH {emb}, {sigbody},
ev AS (SELECT e.vec_id, e.v, s.sig FROM emb e JOIN sig s USING (vec_id))
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id::BIGINT AS vec_a, b.vec_id::BIGINT AS vec_b,
         ROUND({cos}, 6) AS cosine
  FROM ev a JOIN ev b ON a.sig = b.sig AND a.vec_id < b.vec_id
) WHERE cosine >= 0.1
"""


# ---------------------------------------------------------------------------
# similarity search

def q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(_emb(spark, sf_dir), n_queries=5, k=10)


SQL_COSINE_TOPK = f"""
WITH {SQL_EMB},
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND({SQL_COS.format(a='q.qv', b='e.v')}, 6) AS cosine
  FROM q CROSS JOIN emb e WHERE e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT query_id::BIGINT AS query_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id ASC))::BIGINT AS rank,
         vec_id::BIGINT AS vec_id, cosine
  FROM scored
) WHERE rank <= 10
"""


def q_lsh_signatures(spark, sf_dir):
    return similarity.lsh_signatures(_emb(spark, sf_dir), n_planes=8)


SQL_LSH_SIG_BODY = f"""
fx AS (
  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * {similarity.FIXED_POINT})::BIGINT) AS fv
  FROM embeddings
),
comps AS (
  SELECT vec_id, d.d, fv[d.d + 1] AS x, p.p,
         CASE WHEN {sql_h60("p.p::VARCHAR || ':' || d.d::VARCHAR")} & 1 = 1
              THEN 1 ELSE -1 END AS sgn
  FROM fx
  CROSS JOIN generate_series(0, 63) AS d(d)  -- embeddings table is 64-dim
  CROSS JOIN generate_series(0, 7) AS p(p)
),
dots AS (SELECT vec_id, p, SUM(sgn * x) AS dot FROM comps GROUP BY vec_id, p),
sig AS (
  SELECT vec_id, SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS sig
  FROM dots GROUP BY vec_id
)
"""

SQL_LSH_SIGNATURES = f"""
WITH {SQL_LSH_SIG_BODY}
SELECT vec_id, sig FROM sig
"""


def q_ann_lsh_topk(spark, sf_dir):
    return similarity.ann_lsh_topk(_emb(spark, sf_dir), n_queries=5, k=10, n_planes=8)


SQL_ANN_LSH_TOPK = f"""
WITH {SQL_EMB}, {SQL_LSH_SIG_BODY},
ev AS (SELECT e.vec_id, e.v, s.sig FROM emb e JOIN sig s USING (vec_id)),
q AS (SELECT vec_id AS query_id, v AS qv, sig AS qsig FROM ev WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND({SQL_COS.format(a='q.qv', b='e.v')}, 6) AS cosine
  FROM q JOIN ev e ON e.sig = q.qsig AND e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT query_id::BIGINT AS query_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id ASC))::BIGINT AS rank,
         vec_id::BIGINT AS vec_id, cosine
  FROM scored
) WHERE rank <= 10
"""


def q_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (the second scale path next to LSH): deterministic
    sampled centroids, nprobe=4 of 16 lists — the oracle probes
    identically, so the approximate result is still exactly checked."""
    return similarity.ivf_topk(
        _emb(spark, sf_dir), n_queries=5, k=10, n_lists=16, nprobe=4
    )


def q_ivf_index_topk(spark, sf_dir):
    """Materialized IVF index + pyarrow service (plans/ann_index.
    build_ivf_index + operators/ann_service.IvfService): the SAME probe and
    ranking semantics as q_ivf_topk, but served from the list_id-partitioned
    layout with no Spark on the query path — a query reads exactly nprobe
    partitions. Same oracle as sim_ivf_topk ⇒ the driver proves the
    materialized path bit-identical to the DataFrame plan and DuckDB."""
    import shutil
    import tempfile

    import numpy as np

    from websearchengine_spark.operators.ann_service import IvfService
    from websearchengine_spark.plans.ann_index import build_ivf_index

    emb = _emb(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="wse_ivfgate_")
    try:
        build_ivf_index(emb, out, n_lists=16)
        svc = IvfService(out)
        qvecs = {
            int(r["vec_id"]): np.array([float(x) for x in r["embedding"]])
            for r in emb.filter("vec_id < 5").collect()
        }
        rows = []
        for qid in sorted(qvecs):
            for rank, vid, cos in svc.search_vector(
                qvecs[qid], k=10, nprobe=4, exclude_id=qid
            ):
                rows.append((qid, rank, vid, cos))
        # rows are fully materialized — the on-disk index is no longer
        # needed, so the gate leaves no temp dir behind (repeated driver /
        # parity runs used to accumulate one full index copy per call)
        return spark.createDataFrame(
            rows, "query_id long, rank long, vec_id long, cosine double"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


SQL_IVF_TOPK = f"""
WITH {SQL_EMB},
cents AS (SELECT vec_id AS list_id, v AS cv FROM emb WHERE vec_id < 16),
asg AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND({SQL_COS.format(a='e.v', b='c.cv')}, 6) DESC,
                        c.list_id ASC) AS arn
    FROM emb e CROSS JOIN cents c
  ) WHERE arn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
probes AS (
  SELECT query_id, list_id FROM (
    SELECT q.query_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY ROUND({SQL_COS.format(a='q.qv', b='c.cv')}, 6) DESC,
                        c.list_id ASC) AS pr
    FROM q CROSS JOIN cents c
  ) WHERE pr <= 4
),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND({SQL_COS.format(a='q.qv', b='e.v')}, 6) AS cosine
  FROM q JOIN probes p USING (query_id)
       JOIN asg a ON a.list_id = p.list_id
       JOIN emb e ON e.vec_id = a.vec_id
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT query_id::BIGINT AS query_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id ASC))::BIGINT AS rank,
         vec_id::BIGINT AS vec_id, cosine
  FROM scored
) WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# multimodal

def q_media_stats(spark, sf_dir):
    return multimodal.media_stats(_docs(spark, sf_dir))


_KINDS_SQL = "', '".join(multimodal.KINDS)
SQL_MEDIA_STATS = f"""
SELECT doc_id,
       (['{_KINDS_SQL}'])[(doc_id % 3 + 1)::INT] AS kind,
       octet_length(text::BLOB)::BIGINT AS n_bytes,
       md5(text) AS checksum_md5
FROM documents
"""


def q_frame_checksums(spark, sf_dir):
    return multimodal.frame_checksums(_docs(spark, sf_dir), frame_size=64, max_frames=4)


# frames: payload (ASCII text bytes) zero-padded to a multiple of 16, split
# into 64-byte frames (≤ 4); checksum = byte-value sum (padding adds 0)
SQL_FRAME_CHECKSUMS = """
WITH m AS (
  SELECT doc_id, text, octet_length(text::BLOB) AS nb,
         ((octet_length(text::BLOB) + 15) // 16) * 16 AS padded
  FROM documents
),
fr AS (
  SELECT doc_id, text, g.i AS frame_no, nb, padded
  FROM m CROSS JOIN generate_series(0, 3) AS g(i)
  WHERE g.i < least(4, greatest(1, (padded + 63) // 64))
)
SELECT doc_id, frame_no::BIGINT AS frame_no,
       least(64, padded - frame_no * 64)::BIGINT AS n_bytes,
       COALESCE(list_aggregate(
         list_transform(string_split(substr(text, frame_no * 64 + 1, 64), ''),
                        c -> ord(c)), 'sum'), 0)::BIGINT AS frame_checksum
FROM fr
"""


# ---------------------------------------------------------------------------
# composed curation pipeline (the capstone: dedup → quality → lang → near-dup)

def q_curation(spark, sf_dir):
    from websearchengine_spark.pipeline.curate import curate

    return curate(_docs(spark, sf_dir), min_quality=0.5, lang="en",
                  jaccard_threshold=0.5)


def _sql_curation() -> str:
    lang_ratio_cols = []
    for lang, sw in textstats.LANG_STOPWORDS.items():
        lst = "', '".join(sw)
        lang_ratio_cols.append(
            f"CASE WHEN len(l) > 0 THEN len(list_filter(l, t -> t IN"
            f" ('{lst}')))::DOUBLE / len(l) ELSE 0.0 END AS r_{lang}"
        )
    langs = sorted(textstats.LANG_STOPWORDS)
    best = f"greatest({', '.join('r_' + x for x in langs)})"
    pred = "CASE WHEN best <= 0.0 THEN 'und' " + " ".join(
        f"WHEN r_{x} = best THEN '{x}'" for x in langs
    ) + " END"
    return f"""
WITH RECURSIVE {SQL_TOKS}, {SQL_SH},
surv0 AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY {sql_h60('text')}),
qf AS (
  SELECT doc_id, len(l)::DOUBLE AS n, len(list_distinct(l))::DOUBLE AS uniq,
         len(list_filter(l, t -> t IN ('{_STOPS_SQL}')))::DOUBLE AS stops
  FROM toks
),
qual AS (
  SELECT doc_id, ROUND(CASE WHEN n > 0 THEN
      0.3 * least(n / 100.0, 1.0) + 0.4 * (uniq / n)
    + 0.3 * (1.0 - abs(stops / n - 0.4)) ELSE 0.0 END, 6) AS quality
  FROM qf
),
lr AS (SELECT doc_id, {', '.join(lang_ratio_cols)} FROM toks),
lb AS (SELECT *, {best} AS best FROM lr),
lang AS (SELECT doc_id, {pred} AS lang_pred FROM lb),
scored AS (
  SELECT s.doc_id, q.quality, l.lang_pred
  FROM surv0 s JOIN qual q USING (doc_id) JOIN lang l USING (doc_id)
  WHERE q.quality >= 0.5 AND l.lang_pred = 'en'
),
e AS (SELECT sh.doc_id, unnest(sh.s) AS shingle
      FROM sh JOIN scored USING (doc_id)),
hashed AS (SELECT doc_id, {sql_h60('shingle')} % {_MH_P} AS h FROM e),
sigs AS (
  SELECT doc_id, s.seed, MIN((s.a * h + s.b) % {_MH_P}) AS minhash
  FROM hashed CROSS JOIN (VALUES {_MH_SEEDS}) AS s(seed, a, b)
  GROUP BY doc_id, s.seed
),
bandsig AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS sig
  FROM sigs GROUP BY doc_id, seed // 4
),
keys AS (SELECT doc_id, band, {sql_h60("band::VARCHAR || '|' || sig")} AS band_key FROM bandsig),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM keys x JOIN keys y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.s, b.s))::DOUBLE AS i,
           len(a.s)::DOUBLE AS na, len(b.s)::DOUBLE AS nb
    FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id
  ) WHERE ROUND(i / (na + nb - i), 6) >= 0.5
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
cc(node, label) AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e2.b AS node, least(c.label, e2.b) AS label
  FROM cc c JOIN edges e2 ON c.node = e2.a
),
final AS (SELECT node, MIN(label) AS root FROM cc GROUP BY node)
SELECT s.doc_id::BIGINT AS doc_id, s.quality, s.lang_pred,
       COALESCE(f.root, s.doc_id)::BIGINT AS group_id
FROM scored s LEFT JOIN final f ON s.doc_id = f.node
WHERE COALESCE(f.root, s.doc_id) = s.doc_id
"""


# ---------------------------------------------------------------------------

def pipeline_entries() -> dict[str, tuple]:
    """name → (spark_fn, sql | None)."""
    return {
        # mm_* first: round 3's tail position fell past the driver's 50-entry
        # artifact cap (see __spark_entry__.DRIVER_GATE_CAP)
        "mm_media_stats": (q_media_stats, SQL_MEDIA_STATS),
        "mm_frame_checksums": (q_frame_checksums, SQL_FRAME_CHECKSUMS),
        "ts_token_stats": (q_token_stats, SQL_TOKEN_STATS),
        "ts_quality_score": (q_quality_score, SQL_QUALITY),
        "ts_lang_id": (q_lang_id, _sql_lang_id()),
        "ts_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
        "ts_bpe_token_stats": (q_bpe_token_stats, SQL_BPE_TOKEN_STATS),
        "ts_rep_stats": (q_rep_stats, SQL_REP_STATS),
        "pl_seq_pack": (q_seq_pack, SQL_SEQ_PACK),
        "pl_train_val_split": (q_train_val_split, SQL_TRAIN_VAL_SPLIT),
        "ev_windowed_stats": (q_windowed_stats, SQL_WINDOWED_STATS),
        "ev_user_sessions": (q_user_sessions, SQL_USER_SESSIONS),
        "ev_props_extract": (q_props_extract, SQL_PROPS_EXTRACT),
        "olap_pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
        "olap_shipping_priority": (q_shipping_priority, SQL_SHIPPING_PRIORITY),
        "olap_local_supplier_volume": (
            q_local_supplier_volume, SQL_LOCAL_SUPPLIER_VOLUME,
        ),
        "dd_exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
        "ts_pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
        "dd_decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
        "pl_domain_mix": (q_domain_mix, SQL_DOMAIN_MIX),
        "dd_ngram_jaccard_pairs": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
        "dd_minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGS),
        "dd_minhash_lsh_pairs": (q_minhash_lsh, SQL_MINHASH_LSH),
        "dd_simhash": (q_simhash, SQL_SIMHASH),
        "dd_simhash_dup_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
        "dd_dup_groups": (q_dup_groups, SQL_DUP_GROUPS),
        "dd_embedding_dup_pairs": (q_embedding_dup, SQL_EMBEDDING_DUP),
        "dd_embedding_dup_pairs_lsh": (
            q_embedding_dup_lsh,
            SQL_EMBEDDING_DUP_LSH_TMPL.format(
                emb=SQL_EMB,
                sigbody=SQL_LSH_SIG_BODY,
                cos=SQL_COS.format(a="a.v", b="b.v"),
            ),
        ),
        "sim_cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
        "sim_lsh_signatures": (q_lsh_signatures, SQL_LSH_SIGNATURES),
        "sim_ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
        "sim_ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
        "sim_ivf_index_topk": (q_ivf_index_topk, SQL_IVF_TOPK),
        "pl_curation_pipeline": (q_curation, _sql_curation()),
    }


def pipeline_bench_fns() -> dict[str, callable]:
    """The heavier pipeline ops, timed by bench.py."""
    return {
        "pl_minhash_lsh_dedup": q_minhash_lsh,
        "pl_simhash_dup_pairs": q_simhash_pairs,
        "pl_simhash_signatures": q_simhash,        # production mapInPandas plan
        "pl_lsh_ann_topk": q_ann_lsh_topk,         # production signatures underneath
        "pl_ivf_topk": q_ivf_topk,                 # IVF-flat, nprobe=4/16
        "pl_cosine_topk": q_cosine_topk,
        "pl_quality_score": q_quality_score,
        "dd_decontaminate": q_decontaminate,   # same id as its gate entry
    }


# ---------------------------------------------------------------------------
# general OLAP patterns over the relational tables (plans/olap.py)

def q_pricing_summary(spark, sf_dir):
    from websearchengine_spark.plans.olap import pricing_summary

    return pricing_summary(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), "1998-09-01", exact=True
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(list_aggregate(list(l_quantity ORDER BY l_orderkey, l_linenumber), 'sum'), 6) AS sum_qty,
       ROUND(list_aggregate(list(l_extendedprice ORDER BY l_orderkey, l_linenumber), 'sum'), 6) AS sum_base_price,
       ROUND(list_aggregate(list(l_extendedprice * (1 - l_discount) ORDER BY l_orderkey, l_linenumber), 'sum'), 6) AS sum_disc_price,
       COUNT(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark, sf_dir):
    from websearchengine_spark.plans.olap import shipping_priority

    return shipping_priority(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        segment="BUILDING", cutoff="1995-03-15", k=10, exact=True,
    )


SQL_SHIPPING_PRIORITY = """
WITH rev AS (
  SELECT l.l_orderkey, o.o_orderdate,
         ROUND(list_aggregate(
           list(l.l_extendedprice * (1 - l.l_discount)
                ORDER BY l.l_orderkey, l.l_linenumber), 'sum'), 6) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1995-03-15'
    AND l.l_shipdate > TIMESTAMP '1995-03-15'
  GROUP BY l.l_orderkey, o.o_orderdate
)
SELECT rank, l_orderkey, o_orderdate, revenue FROM (
  SELECT (ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey ASC))::BIGINT AS rank,
         l_orderkey, o_orderdate, revenue
  FROM rev
) WHERE rank <= 10
"""


def q_local_supplier_volume(spark, sf_dir):
    from websearchengine_spark.plans.olap import local_supplier_volume

    return local_supplier_volume(
        spark.read.parquet(f"{sf_dir}/region.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        exact=True,
    )


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n.n_name,
       ROUND(list_aggregate(
         list(l.l_extendedprice * (1 - l.l_discount)
              ORDER BY l.l_orderkey, l.l_linenumber), 'sum'), 6) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND c.c_nationkey = s.s_nationkey
GROUP BY n.n_name
"""
