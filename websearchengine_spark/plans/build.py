"""Build plane: transcripts → docIDs → postings / doc_stats / lexicon / meta.

This is the DataFrame ("logical index") pipeline — the Spark-first rewrite of
the reference's create_index pass (create_index.cpp:292-427). The hand-rolled
spill-when-full hash aggregation and the external k-way merge of merge_index
collapse into one Catalyst plan: Arrow tokenize (mapInArrow) →
shuffle-by-term. Spark's hash aggregate spills automatically; the shuffle IS
the merge.

The physical compressed block index (varbyte/delta + skip metadata) is built
from these DataFrames by :mod:`websearchengine_spark.plans.block_index`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.functions.tokenizer import tokenize_postings_batch
from websearchengine_spark.operators.docids import assign_doc_ids

# declared Spark types of the per-doc columns the postings emitter passes
# through (the transcripts contract, FIXTURES.md)
META_TYPES = {
    "conv_id": "string", "turn_idx": "int", "role": "string",
    "tool": "string", "ts": "timestamp",
}


def tokenize_postings(docs: DataFrame, meta_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, text, *meta_cols) → the flat frame of
    :func:`~websearchengine_spark.functions.tokenizer.tokenize_postings_batch`
    via mapInArrow: posting rows (doc_id, term, tf, dl) plus one term-NULL
    doc row per doc carrying ``dl`` and the meta columns.

    The casts pin every passed-through column to its declared type:
    mapInArrow does not check the yielded batches against the schema, so
    e.g. a natural int64 ``turn_idx`` under a declared ``int`` would only
    fail later, when the persisted frame is projected (see
    plans/block_index). Catalyst elides the no-op casts."""
    types = {"doc_id": "long", "text": "string"}
    types |= {c: META_TYPES[c] for c in meta_cols}
    schema = "doc_id long, term string, tf long, dl long" + "".join(
        f", {c} {META_TYPES[c]}" for c in meta_cols
    )

    def _tokenize(batches):
        for rb in batches:
            yield tokenize_postings_batch(rb, meta_cols)

    return docs.select(
        *[F.col(c).cast(t).alias(c) for c, t in types.items()]
    ).mapInArrow(_tokenize, schema)

K1 = 0.9  # BM25 parameters, reference main.cpp:250
B = 0.4


def tf_component(tfs, dls, avg_dl):
    """THE BM25 tf-component float expression tree (main.cpp:446-450) for
    scalar or numpy-array operands. Single shared site: the block encoder's
    stored WAND bounds (plans/block_index) and every serving scorer
    (operators/wand) must evaluate the LITERALLY identical expression —
    block-max pruning with strict ``bound < θ`` is exact only while the
    recomputed score can never exceed the stored block max by an ulp.
    (The Spark-Column twin lives in ``LogicalIndex.bm25_score_col``.)"""
    return tfs * (K1 + 1) / (tfs + K1 * (1 - B + B * dls / avg_dl))


@dataclass
class LogicalIndex:
    """The index as DataFrames (Iceberg/Parquet-backed at rest)."""

    docs: DataFrame       # (doc_id, conv_id, turn_idx, role, tool, ts, text)
    doc_stats: DataFrame  # (doc_id, conv_id, turn_idx, role, tool, ts, term_cnt)
    postings: DataFrame   # (term, doc_id, tf)
    lexicon: DataFrame    # (term, df, cf)
    n_docs: int
    avg_dl: float
    release: "object" = staticmethod(lambda: None)
    # ^ frees the build-time caches (docID range partition + flat token
    #   frame). Call when DONE with the index: the docID cache is a
    #   correctness pin (see operators/docids.assign_doc_ids), so the
    #   frames must not be used after release.

    def bm25_score_col(self, tf_col: str = "tf", df_col: str = "df", dl_col: str = "term_cnt"):
        """Exact BM25 column expression (main.cpp:446-450; no IDF floor —
        negative for df > N/2). Mirrors the oracle's float expression tree."""
        tf, df, dl = F.col(tf_col), F.col(df_col), F.col(dl_col)
        idf = F.log((F.lit(float(self.n_docs)) - df + 0.5) / (df + 0.5))
        tf_c = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / F.lit(self.avg_dl)))
        return idf * tf_c


def docs_table(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    return_release: bool = False,
):
    """Assign stable dense docIDs (SURVEY.md §1.5) and project doc columns."""
    return assign_doc_ids(
        transcripts.select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        order_cols=("conv_id", "turn_idx"),
        num_partitions=num_partitions,
        return_release=return_release,
    )


def build_logical_index(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    persist: bool = True,
) -> LogicalIndex:
    docs, docs_release = docs_table(
        transcripts, num_partitions=num_partitions, return_release=True
    )

    # tokenize ONCE: posting rows + term-NULL doc-stat rows in one Arrow
    # pass — no explode, no per-row Python, and doc_stats needs no join
    flat = tokenize_postings(docs, tuple(META_TYPES))
    if persist:
        flat = flat.persist()

    doc_stats = flat.filter(F.col("term").isNull()).select(
        "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
        F.col("dl").alias("term_cnt"),
    )
    postings = flat.filter(F.col("term").isNotNull()).select("term", "doc_id", "tf")

    lexicon = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )

    row = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.avg("term_cnt").alias("avgdl")
    ).collect()[0]

    def _release():
        docs_release()
        if persist:
            flat.unpersist()

    return LogicalIndex(
        docs=docs,
        doc_stats=doc_stats,
        postings=postings,
        lexicon=lexicon,
        n_docs=int(row["n"]),
        avg_dl=float(row["avgdl"] or 0.0),
        release=_release,
    )


def load_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Source: the transcripts table (Iceberg in production; the same
    `spark.read` plan over Parquet here — replaces the reference's hand-rolled
    TREC scanner, create_index.cpp:158-199)."""
    return spark.read.parquet(path)
