"""Correctness-gate queries: Spark implementation + equivalent DuckDB SQL.

Each operator from SURVEY.md §2 that is SQL-expressible gets a (spark_fn,
oracle_sql) pair over the driver's parquet tables (documents / embeddings —
pre-registered as DuckDB views by the driver). The Spark side uses the real
engine pieces (Arrow tokenizer, docID assignment, BM25 expression); the SQL
side re-derives the same values independently.

Exactness rules (the driver hashes values):
- the documents table's text is pure ``[a-z0-9 ]`` at every SF, so DuckDB's
  ``lower + regexp_split_to_array`` is exactly the reference tokenizer there
  (verified; the full Unicode semantics are pytest-verified against the
  char-level spec in tests/test_tokenizer.py);
- float expressions use the same literal expression tree on both sides and
  are ROUND()ed (half-away-from-zero in both engines) to absorb ulp-level
  libm/summation-order noise;
- every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from websearchengine_spark.functions.tokenizer import clean_query
from websearchengine_spark.pipeline.hashing import sql_h60
from websearchengine_spark.plans.build import tokenize_postings

# ---------------------------------------------------------------------------
# shared fragments

# embedded reference query set for the gate BM25 queries (cleaned driver-side
# exactly like the engine does — main.cpp:393-431)
GATE_QUERIES: list[tuple[int, str]] = [
    (0, "spark query"),
    (1, "hash join"),
    (2, "window agg stream"),
    (3, "the data"),
    (4, "scan"),
    (5, "sort merge batch"),
    (6, "vector value"),
    (7, "nosuchterm spark"),      # OOV term silently skipped (main.cpp:575)
    (8, "customer line value"),
    (9, "big small filter"),
]

# DuckDB tokenizer equivalent for this table (see module docstring)
SQL_TOKS = """
toks AS (
  SELECT d.doc_id, t.term
  FROM documents d,
       UNNEST(list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(term)
)
"""

SQL_POSTINGS = (
    SQL_TOKS
    + """,
postings AS (
  SELECT term, doc_id, COUNT(*)::BIGINT AS tf FROM toks GROUP BY term, doc_id
)
"""
)

SQL_DOCLEN = """,
dl AS (
  SELECT d.doc_id, COALESCE(t.n, 0)::BIGINT AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id) t
    USING (doc_id)
)
"""


def _qterms_values() -> str:
    rows = []
    for qid, q in GATE_QUERIES:
        for t in clean_query(q):
            rows.append(f"({qid}, '{t}')")
    return ", ".join(rows)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _spark_postings(docs: DataFrame) -> DataFrame:
    flat = tokenize_postings(docs)
    return flat.filter(F.col("term").isNotNull()).select("term", "doc_id", "tf")


def _spark_doclen(docs: DataFrame) -> DataFrame:
    # the doc rows carry each doc's kept-token count, NULL/empty text → 0
    flat = tokenize_postings(docs)
    return flat.filter(F.col("term").isNull()).select("doc_id", "dl")


def _spark_bm25_scores(
    spark: SparkSession, sf_dir: str, conjunctive: bool, exact: bool = True
) -> DataFrame:
    """Shared Spark plan for the gate BM25 top-k — the exhaustive DataFrame
    path over the driver's documents table (doc identity = documents.doc_id).

    ``exact=True`` (the gate default) folds per-term contributions in
    sorted-term order so the value hash matches the DuckDB oracle bit for
    bit; ``exact=False`` is the production twin — plain ``F.sum`` with
    map-side partial aggregation, the plan you run at 100 TB, identical to
    the fold up to float associativity ulps (the plans/olap.py split
    applied to this last holdout; tests/test_olap_split.py asserts no
    collect_list in the production plan and 2-dp value equality)."""
    docs = _docs(spark, sf_dir)
    postings = _spark_postings(docs).withColumn("tf", F.col("tf").cast("double"))
    dl = _spark_doclen(docs).withColumn("dl", F.col("dl").cast("double"))
    row = docs.join(dl, "doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n, avgdl = float(row["n"]), float(row["avgdl"])

    qt = spark.createDataFrame(
        [(qid, t) for qid, q in GATE_QUERIES for t in clean_query(q)],
        "query_id long, term string",
    )
    lex = postings.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    qlex = lex.join(F.broadcast(qt), "term")
    n_found = qlex.groupBy("query_id").agg(F.count(F.lit(1)).alias("nf"))

    # identical literal expression tree to the SQL side
    contrib = (
        F.log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * 1.9)
        / (F.col("tf") + 0.9 * (0.6 + 0.4 * F.col("dl") / F.lit(avgdl)))
    )
    hits = (
        postings.join(F.broadcast(qlex), "term")
        .join(dl, "doc_id")
        .withColumn("contrib", contrib)
    )
    # per-doc score = SEQUENTIAL fold of per-term contributions in
    # sorted-term order (main.cpp:574) — not F.sum, whose partial-merge
    # order is nondeterministic at the ulp level and can flip ROUND(x,6)
    # at a boundary between runs/engines. The oracle folds the same way
    # (list(contrib ORDER BY term) → list_aggregate 'sum').
    score = (
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        )
        if exact
        else F.sum("contrib")
    )
    per_doc = hits.groupBy("query_id", "doc_id").agg(
        score.alias("score"), F.count(F.lit(1)).alias("nhit")
    )
    if conjunctive:
        per_doc = per_doc.join(F.broadcast(n_found), "query_id").filter(
            F.col("nhit") == F.col("nf")
        )
    return per_doc


def _sql_bm25_ranked(conjunctive: bool) -> str:
    conj_filter = "JOIN nfound USING (query_id) WHERE nhit = nf" if conjunctive else ""
    return f"""
WITH {SQL_POSTINGS}{SQL_DOCLEN},
stats AS (
  SELECT COUNT(*)::DOUBLE AS n, AVG(dl)::DOUBLE AS avgdl FROM dl
),
qterms(query_id, term) AS (VALUES {_qterms_values()}),
lex AS (SELECT term, COUNT(*)::DOUBLE AS df FROM postings GROUP BY term),
qlex AS (SELECT q.query_id, q.term, l.df FROM qterms q JOIN lex l USING (term)),
nfound AS (SELECT query_id, COUNT(*) AS nf FROM qlex GROUP BY query_id),
hits AS (
  SELECT ql.query_id, p.doc_id, ql.term,
         ln((s.n - ql.df + 0.5) / (ql.df + 0.5))
           * (p.tf::DOUBLE * 1.9)
           / (p.tf::DOUBLE + 0.9 * (0.6 + 0.4 * d.dl::DOUBLE / s.avgdl)) AS contrib
  FROM qlex ql
  JOIN postings p USING (term)
  JOIN dl d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
),
perdoc AS (
  -- sequential fold in sorted-term order (matches Spark + main.cpp:574);
  -- plain SUM() merges partials in nondeterministic order at ulp level
  SELECT query_id, doc_id,
         list_aggregate(list(contrib ORDER BY term), 'sum') AS score,
         COUNT(*) AS nhit
  FROM hits GROUP BY query_id, doc_id
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id::BIGINT AS query_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id ASC))::BIGINT AS rank,
         doc_id, ROUND(score, 6) AS score
  FROM perdoc {conj_filter}
) WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# gate entries: name → (spark_fn, sql)

def q_tokenize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P7: tokenizer + per-doc BM25 length (create_index.cpp:376)."""
    return _spark_doclen(_docs(spark, sf_dir)).select(
        "doc_id", F.col("dl").alias("term_cnt")
    )


SQL_TOKENIZE_DOCLEN = f"""
WITH {SQL_TOKS}{SQL_DOCLEN}
SELECT doc_id, dl AS term_cnt FROM dl
"""


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6/A1: postings build — (term, doc_id, tf) with first-occurrence
    dedup + per-doc tf count (create_index.cpp:378-386)."""
    return _spark_postings(_docs(spark, sf_dir))


SQL_POSTINGS_Q = f"""
WITH {SQL_POSTINGS}
SELECT term, doc_id, tf FROM postings
"""


def q_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/S9: lexicon — term, document frequency, collection frequency
    (merge_index.cpp:249-254)."""
    return _spark_postings(_docs(spark, sf_dir)).groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )


SQL_LEXICON = f"""
WITH {SQL_POSTINGS}
SELECT term, COUNT(*)::BIGINT AS df, SUM(tf)::BIGINT AS cf
FROM postings GROUP BY term
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: N + avg doc length (derived at startup in the reference,
    main.cpp:364-370)."""
    docs = _docs(spark, sf_dir)
    return _spark_doclen(docs).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avg_dl"),
    )


SQL_CORPUS_STATS = f"""
WITH {SQL_TOKS}{SQL_DOCLEN}
SELECT COUNT(*)::BIGINT AS n_docs, ROUND(AVG(dl), 6) AS avg_dl FROM dl
"""


def q_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/J1/J2/A2/O4/U1: conjunctive BM25 top-10 (main.cpp:599-630)."""
    per_doc = _spark_bm25_scores(spark, sf_dir, conjunctive=True)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
    )


def q_bm25_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/A2/O4/U2: disjunctive BM25 top-10 (main.cpp:681-687)."""
    per_doc = _spark_bm25_scores(spark, sf_dir, conjunctive=False)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
    )


def q_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: total conjunctive match count per query (main.cpp:487)."""
    per_doc = _spark_bm25_scores(spark, sf_dir, conjunctive=True)
    return per_doc.groupBy("query_id").agg(F.count(F.lit(1)).alias("count"))


SQL_MATCH_COUNTS = f"""
WITH {SQL_POSTINGS},
qterms(query_id, term) AS (VALUES {{qterms}}),
qlex AS (
  SELECT q.query_id, q.term FROM qterms q
  WHERE EXISTS (SELECT 1 FROM postings p WHERE p.term = q.term)
),
nfound AS (SELECT query_id, COUNT(*) AS nf FROM qlex GROUP BY query_id),
perdoc AS (
  SELECT ql.query_id, p.doc_id, COUNT(*) AS nhit
  FROM qlex ql JOIN postings p USING (term)
  GROUP BY ql.query_id, p.doc_id
)
SELECT pd.query_id::BIGINT AS query_id, COUNT(*)::BIGINT AS count
FROM perdoc pd JOIN nfound USING (query_id)
WHERE nhit = nf
GROUP BY pd.query_id
"""


def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/J5: MRR@10 harness (evaluation.cpp:484-490, 715-720). The qrel per
    query is derived identically on both sides: the lowest docID among the
    top-20 conjunctive matches (varied ranks -> a meaningful MRR)."""
    per_doc = _spark_bm25_scores(spark, sf_dir, conjunctive=True)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
    qrels = (
        ranked.filter(F.col("rank") <= 20)
        .groupBy("query_id")
        .agg(F.min("doc_id").alias("rel_doc"))
    )
    rr = (
        ranked.filter(F.col("rank") <= 10)
        .join(qrels, "query_id")
        .filter(F.col("doc_id") == F.col("rel_doc"))
        .select("query_id", (F.lit(1.0) / F.col("rank")).alias("rr"))
    )
    per_query = qrels.join(rr, "query_id", "left").select(
        "query_id", F.coalesce(F.col("rr"), F.lit(0.0)).alias("rr")
    )
    # mean via ordered fold by query_id (not F.avg): deterministic float
    # summation order, mirrored in the SQL oracle
    return per_query.agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("query_id", "rr"))),
                F.lit(0.0),
                lambda acc, x: acc + x["rr"],
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mrr"),
        F.count(F.lit(1)).alias("n_queries"),
    )


def q_docid_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 (convert_ids.cpp:92-152): dense 0-based docIDs under a stable
    total order — here (source ASC, doc_id ASC), computed by the engine's
    scalable two-level numbering and checked against SQL row_number."""
    from websearchengine_spark.operators.docids import assign_doc_ids

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    out = assign_doc_ids(
        docs, order_cols=("source", "doc_id"), num_partitions=8, id_col="new_id"
    )
    return out.select("doc_id", "source", "new_id")


SQL_DOCID_ASSIGNMENT = """
SELECT doc_id, source,
       (ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1)::BIGINT AS new_id
FROM documents
"""


SQL_MRR = f"""
WITH {SQL_POSTINGS}{SQL_DOCLEN},
stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl)::DOUBLE AS avgdl FROM dl),
qterms(query_id, term) AS (VALUES {{qterms}}),
lex AS (SELECT term, COUNT(*)::DOUBLE AS df FROM postings GROUP BY term),
qlex AS (SELECT q.query_id, q.term, l.df FROM qterms q JOIN lex l USING (term)),
nfound AS (SELECT query_id, COUNT(*) AS nf FROM qlex GROUP BY query_id),
hits AS (
  SELECT ql.query_id, p.doc_id, ql.term,
         ln((s.n - ql.df + 0.5) / (ql.df + 0.5))
           * (p.tf::DOUBLE * 1.9)
           / (p.tf::DOUBLE + 0.9 * (0.6 + 0.4 * d.dl::DOUBLE / s.avgdl)) AS contrib
  FROM qlex ql JOIN postings p USING (term) JOIN dl d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
),
perdoc AS (
  -- sequential fold in sorted-term order (matches Spark + main.cpp:574);
  -- plain SUM() merges partials in nondeterministic order at ulp level
  SELECT query_id, doc_id,
         list_aggregate(list(contrib ORDER BY term), 'sum') AS score,
         COUNT(*) AS nhit
  FROM hits GROUP BY query_id, doc_id
),
conj AS (SELECT pd.* FROM perdoc pd JOIN nfound USING (query_id) WHERE nhit = nf),
ranked AS (
  SELECT query_id, doc_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id ASC))::BIGINT AS rank
  FROM conj
),
qrels AS (SELECT query_id, MIN(doc_id) AS rel_doc FROM ranked WHERE rank <= 20 GROUP BY query_id),
rr AS (
  SELECT r.query_id, 1.0::DOUBLE / r.rank AS rr
  FROM ranked r JOIN qrels q ON r.query_id = q.query_id AND r.doc_id = q.rel_doc
  WHERE r.rank <= 10
),
perq AS (
  SELECT qrels.query_id, COALESCE(rr.rr, 0.0::DOUBLE) AS rr
  FROM qrels LEFT JOIN rr USING (query_id)
)
SELECT ROUND(list_aggregate(list(rr ORDER BY query_id), 'sum') / COUNT(*), 6) AS mrr,
       COUNT(*)::BIGINT AS n_queries
FROM perq
"""


def _spark_conj_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _spark_bm25_scores(spark, sf_dir, conjunctive=True)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id")
    )


SQL_CONJ_TOP10_CTES = f"""
{SQL_POSTINGS}{SQL_DOCLEN},
stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl)::DOUBLE AS avgdl FROM dl),
qterms(query_id, term) AS (VALUES {{qterms}}),
lex AS (SELECT term, COUNT(*)::DOUBLE AS df FROM postings GROUP BY term),
qlex AS (SELECT q.query_id, q.term, l.df FROM qterms q JOIN lex l USING (term)),
nfound AS (SELECT query_id, COUNT(*) AS nf FROM qlex GROUP BY query_id),
hits AS (
  SELECT ql.query_id, p.doc_id, ql.term,
         ln((s.n - ql.df + 0.5) / (ql.df + 0.5))
           * (p.tf::DOUBLE * 1.9)
           / (p.tf::DOUBLE + 0.9 * (0.6 + 0.4 * d.dl::DOUBLE / s.avgdl)) AS contrib
  FROM qlex ql JOIN postings p USING (term) JOIN dl d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
),
perdoc AS (
  -- sequential fold in sorted-term order (matches Spark + main.cpp:574);
  -- plain SUM() merges partials in nondeterministic order at ulp level
  SELECT query_id, doc_id,
         list_aggregate(list(contrib ORDER BY term), 'sum') AS score,
         COUNT(*) AS nhit
  FROM hits GROUP BY query_id, doc_id
),
conj AS (SELECT pd.* FROM perdoc pd JOIN nfound USING (query_id) WHERE nhit = nf),
ranked AS (
  SELECT query_id::BIGINT AS query_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id ASC))::BIGINT AS rank,
         doc_id
  FROM conj
),
top10 AS (SELECT query_id, rank, doc_id FROM ranked WHERE rank <= 10)
"""


def q_result_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (main.cpp:610-612): the `freqs` [(term, tf)...] pairs attached to
    each conjunctive top-10 result (readme.md:205-223) — one row per
    (result, query term)."""
    qt = spark.createDataFrame(
        [(qid, t) for qid, q in GATE_QUERIES for t in clean_query(q)],
        "query_id long, term string",
    )
    postings = _spark_postings(_docs(spark, sf_dir))
    top = _spark_conj_top10(spark, sf_dir)
    return (
        top.join(F.broadcast(qt), "query_id")
        .join(postings, ["term", "doc_id"])
        .select("query_id", "rank", "doc_id", "term", "tf")
    )


SQL_RESULT_FREQS = f"""
WITH {SQL_CONJ_TOP10_CTES}
SELECT t.query_id, t.rank, t.doc_id, q.term, p.tf
FROM top10 t
JOIN qterms q ON q.query_id = t.query_id
JOIN postings p ON p.term = q.term AND p.doc_id = t.doc_id
"""


def q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 (main.cpp:498-547), reference-exact on this corpus: terms are
    probed in SORTED query-list order (main.cpp:520) — the first sorted
    term that occurs anchors the snippet at its first occurrence;
    snippet = the centered window [anchor − 60, anchor + 60) clamped to
    the text (= the reference's byte window on ASCII text). match_pos =
    1-based anchor, 0 = no term occurs (snippet '' — the reference drops
    the item; the gate keeps the row). Full-Unicode byte semantics are
    property-tested in tests/test_snippets_ref.py."""
    from websearchengine_spark.operators.snippets import snippet_col

    qt = spark.createDataFrame(
        [(qid, t) for qid, q in GATE_QUERIES for t in clean_query(q)],
        "query_id long, term string",
    )
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    top = _spark_conj_top10(spark, sf_dir)
    rows = (
        top.join(F.broadcast(qt), "query_id")
        .join(docs, "doc_id")
        .withColumn("loc", F.expr("locate(concat(' ', term, ' '), concat(' ', lower(text), ' '))"))
    )
    # sorted-term priority: first (term ASC) entry with loc > 0
    agg = rows.groupBy("query_id", "rank", "doc_id").agg(
        F.coalesce(
            F.get(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("term", "loc"))),
                    lambda x: x["loc"] > 0,
                ),
                0,
            )["loc"],
            F.lit(0),
        ).cast("long").alias("match_pos"),
        F.first("text").alias("text"),
    )
    return agg.select(
        "query_id", "rank", "doc_id", "match_pos",
        snippet_col(F.col("text"), F.col("match_pos"), 120).alias("snippet"),
    )


SQL_SNIPPETS = f"""
WITH {SQL_CONJ_TOP10_CTES},
rows_ AS (
  SELECT t.query_id, t.rank, t.doc_id, d.text, q.term,
         position(' ' || q.term || ' ' IN ' ' || lower(d.text) || ' ') AS loc
  FROM top10 t
  JOIN qterms q ON q.query_id = t.query_id
  JOIN documents d ON d.doc_id = t.doc_id
),
agg AS (
  SELECT query_id, rank, doc_id,
         COALESCE((list(loc ORDER BY term) FILTER (WHERE loc > 0))[1], 0)::BIGINT AS match_pos,
         any_value(text) AS text
  FROM rows_ GROUP BY query_id, rank, doc_id
)
SELECT query_id, rank, doc_id, match_pos,
       CASE WHEN match_pos > 0 THEN
         substr(text,
                greatest(0, match_pos - 1 - 60) + 1,
                least(length(text), match_pos - 1 + 60) - greatest(0, match_pos - 1 - 60))
       ELSE '' END AS snippet
FROM agg
"""


def _qtext_values() -> str:
    return ", ".join(f"({qid}, '{q}')" for qid, q in GATE_QUERIES)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _gate_query_vecs(spark: SparkSession, dim: int = 64) -> DataFrame:
    """Query vectors through the REAL encoder seam (batched pandas UDF,
    operators/semantic.py::encode_texts_udf) — its default hash encoder
    emits exactly the pseudo_embedding values the SQL oracle mirrors, so
    q2/q3 verify the UDF path end-to-end."""
    from websearchengine_spark.operators.semantic import encode_texts_udf

    qdf = spark.createDataFrame(GATE_QUERIES, "query_id long, query string")
    enc = encode_texts_udf(dim=dim)
    return qdf.select("query_id", enc(F.col("query")).alias("qv"))


def q_semantic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryType SEMANTIC (main.cpp:234-236; torch.topk dense retrieval in
    eval_semantic_search.ipynb): cosine top-10 over the doc-embedding table
    (vec_id = doc_id) with the deterministic pseudo-encoder for query
    vectors (operators/semantic.py — the encoder seam)."""
    from websearchengine_spark.operators.semantic import semantic_topk

    return semantic_topk(_emb(spark, sf_dir), _gate_query_vecs(spark), k=10)


# pseudo-encoder mirrored in SQL (block/lane md5 scheme of
# operators/semantic.hash_encode_batch): component d uses 16-bit lane
# d%8 of md5(query || '#' || d//8) — 4 hex chars = the big-endian uint16
SQL_QCOMP = """
qtext(query_id, query) AS (VALUES {qtext}),
qcomp AS (
  SELECT query_id, g.d,
         ((('0x' || substr(md5(query || '#' || (g.d // 8)::VARCHAR),
                           1 + 4 * (g.d % 8), 4))::BIGINT % 2001) - 1000)
         / 1000.0 AS qc
  FROM qtext CROSS JOIN generate_series(0, 63) AS g(d)
),
dv AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> x::DOUBLE) AS v
       FROM embeddings),
comp AS (SELECT doc_id, g.d, v[g.d + 1] AS x
         FROM dv CROSS JOIN generate_series(0, 63) AS g(d)),
dots AS (
  -- ordered fold over d: matches Spark's sequential zip_with/aggregate
  SELECT q.query_id, c.doc_id,
         list_aggregate(list(q.qc * c.x ORDER BY q.d), 'sum') AS dot
  FROM qcomp q JOIN comp c ON q.d = c.d GROUP BY 1, 2
),
qnorm AS (SELECT query_id, list_aggregate(list(qc * qc ORDER BY d), 'sum') AS nq
          FROM qcomp GROUP BY query_id),
dnorm AS (SELECT doc_id, list_dot_product(v, v) AS nd FROM dv),
cos AS (
  SELECT d.query_id, d.doc_id,
         ROUND(CASE WHEN qn.nq > 0 AND dn.nd > 0
               THEN d.dot / sqrt(qn.nq * dn.nd) ELSE 0.0 END, 6) AS cosine
  FROM dots d JOIN qnorm qn USING (query_id) JOIN dnorm dn USING (doc_id)
)"""

SQL_SEMANTIC_TOPK = f"""
WITH {SQL_QCOMP}
SELECT query_id, rank, doc_id, cosine FROM (
  SELECT query_id::BIGINT AS query_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, doc_id ASC))::BIGINT AS rank,
         doc_id::BIGINT AS doc_id, cosine
  FROM cos
) WHERE rank <= 10
"""


def _mrr_fold(per_query: DataFrame) -> DataFrame:
    """(query_id, rr) → one (mrr, n_queries) row via the ordered fold by
    query_id (deterministic float summation order, mirrored in every MRR
    oracle — evaluation.cpp:715-720's sequential loop)."""
    return per_query.agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("query_id", "rr"))),
                F.lit(0.0),
                lambda acc, x: acc + x["rr"],
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mrr"),
        F.count(F.lit(1)).alias("n_queries"),
    )


def q_semantic_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-search MRR@10 harness — the reference's
    eval_semantic_search.ipynb evaluation loop (its MRR@10 0.292/0.315
    reproduction, readme.md:104) as one DataFrame job: dense-retrieval
    ranks → reciprocal rank of the qrel within top-10 → mean. The qrel per
    query is derived identically on both sides (lowest docID among the
    semantic top-20 — the same device as a5_mrr_at_10), and the mean is an
    ordered fold by query_id (deterministic float summation order)."""
    from websearchengine_spark.operators.semantic import semantic_topk

    top20 = semantic_topk(_emb(spark, sf_dir), _gate_query_vecs(spark), k=20)
    qrels = top20.groupBy("query_id").agg(F.min("doc_id").alias("rel_doc"))
    rr = (
        top20.filter(F.col("rank") <= 10)
        .join(qrels, "query_id")
        .filter(F.col("doc_id") == F.col("rel_doc"))
        .select("query_id", (F.lit(1.0) / F.col("rank")).alias("rr"))
    )
    per_query = qrels.join(rr, "query_id", "left").select(
        "query_id", F.coalesce(F.col("rr"), F.lit(0.0)).alias("rr")
    )
    return _mrr_fold(per_query)


def q_rerank_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rerank MRR@10 harness — the reference's eval_rerank.ipynb loop (its
    MRR@10 0.173 measurement, readme.md:113) as one DataFrame job: the full
    RERANKING pipeline's ranks (semantic top-32 candidates re-scored by the
    cross-encoder pair seam) → reciprocal rank of the qrel → mean. The qrel
    per query is the lowest docID among the SEMANTIC top-20 (derived
    identically on both sides), so the metric measures how reranking moves
    the relevant doc, the notebook's comparison axis."""
    from websearchengine_spark.operators.semantic import rerank, semantic_topk

    qdf = spark.createDataFrame(GATE_QUERIES, "query_id long, query string")
    ranked = rerank(
        _docs(spark, sf_dir), _emb(spark, sf_dir), _gate_query_vecs(spark), qdf,
        k=10, candidates_k=32,
    )
    sem20 = semantic_topk(_emb(spark, sf_dir), _gate_query_vecs(spark), k=20)
    qrels = sem20.groupBy("query_id").agg(F.min("doc_id").alias("rel_doc"))
    rr = (
        ranked.join(qrels, "query_id")
        .filter(F.col("doc_id") == F.col("rel_doc"))
        .select("query_id", (F.lit(1.0) / F.col("rank")).alias("rr"))
    )
    per_query = qrels.join(rr, "query_id", "left").select(
        "query_id", F.coalesce(F.col("rr"), F.lit(0.0)).alias("rr")
    )
    return _mrr_fold(per_query)


def _sql_rerank_mrr() -> str:
    from websearchengine_spark.operators.pair_scorer import sql_pair_score

    return f"""
WITH {SQL_QCOMP},
sem AS (
  SELECT query_id, doc_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS sem_rank
  FROM cos
),
cand AS (SELECT * FROM sem WHERE sem_rank <= 32),
scored AS (
  SELECT c.query_id, c.doc_id, c.sem_rank,
         ROUND({sql_pair_score("q.query", "d.text")}, 6) AS score
  FROM cand c
  JOIN qtext q ON q.query_id = c.query_id
  JOIN documents d ON d.doc_id = c.doc_id
),
rranked AS (
  SELECT query_id, doc_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, sem_rank ASC))::BIGINT AS rank
  FROM scored
),
qrels AS (SELECT query_id, MIN(doc_id) AS rel_doc FROM sem WHERE sem_rank <= 20 GROUP BY query_id),
rr AS (
  SELECT r.query_id, 1.0::DOUBLE / r.rank AS rr
  FROM rranked r JOIN qrels q ON r.query_id = q.query_id AND r.doc_id = q.rel_doc
  WHERE r.rank <= 10
),
perq AS (
  SELECT qrels.query_id, COALESCE(rr.rr, 0.0::DOUBLE) AS rr
  FROM qrels LEFT JOIN rr USING (query_id)
)
SELECT ROUND(list_aggregate(list(rr ORDER BY query_id), 'sum') / COUNT(*), 6) AS mrr,
       COUNT(*)::BIGINT AS n_queries
FROM perq
"""


SQL_SEMANTIC_MRR = f"""
WITH {SQL_QCOMP},
ranked AS (
  SELECT query_id, doc_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, doc_id ASC))::BIGINT AS rank
  FROM cos
),
qrels AS (SELECT query_id, MIN(doc_id) AS rel_doc FROM ranked WHERE rank <= 20 GROUP BY query_id),
rr AS (
  SELECT r.query_id, 1.0::DOUBLE / r.rank AS rr
  FROM ranked r JOIN qrels q ON r.query_id = q.query_id AND r.doc_id = q.rel_doc
  WHERE r.rank <= 10
),
perq AS (
  SELECT qrels.query_id, COALESCE(rr.rr, 0.0::DOUBLE) AS rr
  FROM qrels LEFT JOIN rr USING (query_id)
)
SELECT ROUND(list_aggregate(list(rr ORDER BY query_id), 'sum') / COUNT(*), 6) AS mrr,
       COUNT(*)::BIGINT AS n_queries
FROM perq
"""


def q_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryType RERANKING — the reference's actual pipeline
    (main.cpp:772-806 + learning_to_rank.py): SEMANTIC candidates (top 32,
    learning_to_rank.py:10) re-scored by the cross-encoder pair seam over
    (raw query, doc body) pairs, ranked by the pair score only (stable —
    ties keep semantic order). Verifies the whole dataflow end-to-end:
    pandas-UDF query encoder, dense top-32, broadcast doc-text join,
    pandas-UDF pair scorer, final sort."""
    from websearchengine_spark.operators.semantic import rerank

    qdf = spark.createDataFrame(GATE_QUERIES, "query_id long, query string")
    return rerank(
        _docs(spark, sf_dir), _emb(spark, sf_dir), _gate_query_vecs(spark), qdf,
        k=10, candidates_k=32,
    )


def _sql_rerank_topk() -> str:
    from websearchengine_spark.operators.pair_scorer import sql_pair_score

    return f"""
WITH {SQL_QCOMP},
sem AS (
  SELECT query_id, doc_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS sem_rank
  FROM cos
),
cand AS (SELECT * FROM sem WHERE sem_rank <= 32),
scored AS (
  SELECT c.query_id, c.doc_id, c.sem_rank,
         ROUND({sql_pair_score("q.query", "d.text")}, 6) AS score
  FROM cand c
  JOIN qtext q ON q.query_id = c.query_id
  JOIN documents d ON d.doc_id = c.doc_id
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id::BIGINT AS query_id,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, sem_rank ASC))::BIGINT AS rank,
         doc_id::BIGINT AS doc_id, score
  FROM scored
) WHERE rank <= 10
"""


_SERVING_INDEX_CACHE: dict[str, str] = {}
_SERVING_MERGED_CACHE: dict[str, str] = {}


def _gate_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → transcripts projection shared by every gate index build:
    one conversation, turn_idx = doc_id → the engine's dense docID
    assignment (rank in (conv_id, turn_idx) order) is the identity, so
    index docIDs line up with documents.doc_id INCLUDING the score-tie
    doc_id-ascending tie-break the oracle ranks by."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        F.lit("c").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.current_timestamp().alias("ts"),
    )


def _serving_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) a real block index over the
    documents-as-transcripts corpus and return its root path."""
    if sf_dir not in _SERVING_INDEX_CACHE:
        import tempfile

        from websearchengine_spark.plans.block_index import build_block_index

        transcripts = _gate_transcripts(spark, sf_dir)
        out = tempfile.mkdtemp(prefix="wse_gate_idx_")
        build_block_index(
            transcripts, out, resume=False, n_buckets=8, num_partitions=8
        )
        _SERVING_INDEX_CACHE[sf_dir] = out
    return _SERVING_INDEX_CACHE[sf_dir]


def _serving_index_merged(spark: SparkSession, sf_dir: str) -> str:
    """Round-5 tagged variant of the M3 index: the SAME corpus absorbed as
    base (first ~80% of docIDs) + delta (the rest) through the incremental
    index merge (the merge_index.cpp:394-476 analogue) instead of one
    from-scratch build. Arrival-blocked numbering keeps global docIDs ==
    documents.doc_id (delta's local ranks shift by base.n_docs == split),
    and the merge is content-identical to a from-scratch union build in
    this regime (pinned in tests/test_merge_index.py), so the gate serves
    the SAME answers against the UNCHANGED DuckDB oracle — the driver's
    hash check now covers the merge path end-to-end.

    Late round-5, the gate additionally covers LIVE DELETION
    (plans/delete_index.py): the delta carries CHAFF copies of real
    documents (conv_id prefixed '~~chaff~' — '~' sorts after every
    alphanumeric source, so corpus docIDs are untouched), and the merged
    index is then tombstone-deleted back down to the corpus. The chaff
    reuses real texts, so N / avg_dl / every shared term's df all shift
    and the sidecar's exact corrections must undo them BITWISE
    (tests/test_delete_index.py's invariant) for the unchanged oracle
    hash to match — the driver now re-proves tombstone scoring every
    round."""
    if sf_dir not in _SERVING_MERGED_CACHE:
        import tempfile

        from websearchengine_spark.plans.block_index import build_block_index
        from websearchengine_spark.plans.delete_index import tombstone_delete
        from websearchengine_spark.plans.merge_index import merge_block_indexes

        transcripts = _gate_transcripts(spark, sf_dir)
        n_docs = transcripts.count()
        split = max(1, (n_docs * 4) // 5)  # delta = last ~20% of docIDs
        chaff = transcripts.filter(F.col("turn_idx") < 20).withColumn(
            "conv_id", F.concat(F.lit("~~chaff~"), F.col("conv_id"))
        )
        base_dir = tempfile.mkdtemp(prefix="wse_gate_base_")
        delta_dir = tempfile.mkdtemp(prefix="wse_gate_delta_")
        out = tempfile.mkdtemp(prefix="wse_gate_merged_")
        build_block_index(
            transcripts.filter(F.col("turn_idx") < split),
            base_dir, resume=False, n_buckets=8, num_partitions=8,
        )
        build_block_index(
            transcripts.filter(F.col("turn_idx") >= split).unionByName(chaff),
            delta_dir, resume=False, n_buckets=8, num_partitions=8,
        )
        merge_block_indexes(spark, base_dir, delta_dir, out, n_buckets=8)
        tombstone_delete(
            spark, out,
            conv_ids=chaff.select("conv_id").distinct(),
            corpus=chaff,
        )
        _SERVING_MERGED_CACHE[sf_dir] = out
    return _SERVING_MERGED_CACHE[sf_dir]


def _q_serving(conjunctive: bool):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Serving engine end-to-end (M3): physical block index (salted
        build, delta+varbyte blocks) + BlockIndexReader (vectorized TAAT /
        block-max WAND hybrid, bounded heap) — must equal the same DuckDB
        oracle as the exhaustive DataFrame path, because docID = rank of
        (conv_id=source, turn_idx=doc_id) = documents.doc_id (dense,
        0-based, source-then-doc_id is doc_id order in the gate tables).

        Round-5 tagged variants (same oracle, rank-identical by invariant):
        the CONJUNCTIVE gate serves from a base+delta MERGED index (the
        incremental-merge path), the DISJUNCTIVE gate forces the
        within-query parallel decode (doc-range-sharded TAAT over a fork
        pool, bitwise-equal merge) — so the driver's hash check covers both
        round-5 serving-side operators every round."""
        from websearchengine_spark.operators.wand import BlockIndexReader

        if conjunctive:
            root = _serving_index_merged(spark, sf_dir)
            reader = BlockIndexReader(root)
        else:
            root = _serving_index(spark, sf_dir)
            reader = BlockIndexReader(
                root, parallel_workers=2, parallel_df_threshold=1
            )
        rows = []
        try:
            for qid, q in GATE_QUERIES:
                hits = reader.search(q, conjunctive=conjunctive, k=10)
                for rank, doc_id, score in hits:
                    rows.append((qid, rank, doc_id, round(score, 6)))
        finally:
            reader.close()
        return spark.createDataFrame(
            rows, "query_id long, rank long, doc_id long, score double"
        )

    return run


def q_batch_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 distributed batch evaluation (evaluation.cpp:570-660): MRR@10
    computed by executor-local serving engines via mapInPandas (no driver
    loop), qrels derived exactly like a5_mrr_at_10 (min docID of the
    conjunctive top-20). Must equal the same DuckDB oracle as a5."""
    from websearchengine_spark.operators.batch_eval import batch_mrr, batch_search

    root = _serving_index(spark, sf_dir)
    qdf = spark.createDataFrame(GATE_QUERIES, "query_id long, query string")
    top20 = batch_search(qdf, root, conjunctive=True, k=20, num_partitions=4)
    qrels = top20.groupBy("query_id").agg(F.min("doc_id").alias("rel_doc"))
    return batch_mrr(qdf, qrels, root, n=10, num_partitions=4)


def q_mrr_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + M4 in one gate (two tagged rows): the DataFrame MRR@10 harness
    (evaluation.cpp:484-490, 715-720) and the distributed serving-engine
    batch evaluation (evaluation.cpp:570-660) must both equal the same
    DuckDB-derived MRR. Merged because the driver's correctness artifact
    records at most 50 ``queries()`` entries (observed r3: 51 registered →
    first 50 recorded, in registration order) — one gate, both paths."""
    a = q_mrr(spark, sf_dir).select(
        F.lit("dataframe").alias("method"), "mrr", "n_queries"
    )
    b = q_batch_eval_mrr(spark, sf_dir).select(
        F.lit("serving_dist").alias("method"), "mrr", "n_queries"
    )
    return a.unionByName(b)


def _sql_mrr_both() -> str:
    base = SQL_MRR.replace("{qterms}", _qterms_values())
    return f"""
SELECT m.method, b.mrr, b.n_queries
FROM ({base}) b
CROSS JOIN (VALUES ('dataframe'), ('serving_dist')) m(method)
"""


def q_semantic_rerank_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic + rerank MRR@10 in one gate (two tagged rows): the
    reference's eval_semantic_search.ipynb and eval_rerank.ipynb loops
    (readme.md:104,113). Merged for the same 50-entry driver cap as
    q_mrr_both; each path keeps its own independent oracle derivation."""
    a = q_semantic_mrr(spark, sf_dir).select(
        F.lit("semantic").alias("method"), "mrr", "n_queries"
    )
    b = q_rerank_mrr(spark, sf_dir).select(
        F.lit("rerank").alias("method"), "mrr", "n_queries"
    )
    return a.unionByName(b)


def _sql_semantic_rerank_mrr() -> str:
    sem = SQL_SEMANTIC_MRR.replace("{qtext}", _qtext_values())
    rer = _sql_rerank_mrr().replace("{qtext}", _qtext_values())
    return f"""
SELECT 'semantic' AS method, mrr, n_queries FROM ({sem})
UNION ALL
SELECT 'rerank' AS method, mrr, n_queries FROM ({rer})
"""


def core_entries() -> dict[str, tuple]:
    """name → (spark_fn, sql | None)."""
    return {
        "p1_tokenize_doclen": (q_tokenize_doclen, SQL_TOKENIZE_DOCLEN),
        "p5p6_postings_build": (q_postings, SQL_POSTINGS_Q),
        "a3_lexicon": (q_lexicon, SQL_LEXICON),
        "a4_corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
        "p12_bm25_conjunctive_topk": (q_bm25_conjunctive, _sql_bm25_ranked(True)),
        "p12_bm25_disjunctive_topk": (q_bm25_disjunctive, _sql_bm25_ranked(False)),
        "j2_conjunctive_match_counts": (
            q_match_counts,
            SQL_MATCH_COUNTS.replace("{qterms}", _qterms_values()),
        ),
        "a5_mrr_at_10": (q_mrr_both, _sql_mrr_both()),
        "p15_docid_assignment": (q_docid_assignment, SQL_DOCID_ASSIGNMENT),
        "j3_result_freqs": (
            q_result_freqs,
            SQL_RESULT_FREQS.replace("{qterms}", _qterms_values()),
        ),
        "p13_snippets": (
            q_snippets,
            SQL_SNIPPETS.replace("{qterms}", _qterms_values()),
        ),
        "m3_serving_conjunctive_topk": (_q_serving(True), _sql_bm25_ranked(True)),
        "m3_serving_disjunctive_topk": (_q_serving(False), _sql_bm25_ranked(False)),
        "q2_semantic_topk": (
            q_semantic_topk,
            SQL_SEMANTIC_TOPK.replace("{qtext}", _qtext_values()),
        ),
        "a5_semantic_rerank_mrr": (q_semantic_rerank_mrr, _sql_semantic_rerank_mrr()),
        "q3_rerank_topk": (
            q_rerank_topk,
            _sql_rerank_topk().replace("{qtext}", _qtext_values()),
        ),
    }
