"""Corpus ranking operators: TF-IDF term weighting and BM25 search.

No counterpart in the reference (its text surface is IRI munging
only, ``semantics/RDFImport.java:188-196``); these are the standard
relevance/keyword primitives a training-data pipeline uses for
corpus exploration, keyword extraction, and retrieval-based
filtering.

Scale shape:
- one explode of the token stream feeds everything;
- document frequencies aggregate to a vocabulary-sized table that
  Catalyst broadcasts back onto the term stream (vocab ≪ corpus);
- per-doc statistics are one hash aggregate keyed on doc id;
- rankings are window row_numbers partitioned by doc/query.
All arithmetic is over exact integer counts with the float math
(ln, divisions) applied once at the end — deterministic, so both
operators verify against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pidb_rdf_spark.operators.text import tokens
from pidb_rdf_spark.session import local_frame


def _term_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) — exploded token stream with per-doc counts."""
    return (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF
    (idf = ln(N / df), ties broken by term for determinism)."""
    # corpus size folded in as a broadcast 1-row aggregate (r13): a
    # driver-side df.count() was a second full corpus scan + an extra
    # blocking job just to learn a scalar the plan can carry itself
    # (guide §5: the driver should do almost no data work); the cast
    # to double matches the old float literal bit-for-bit
    ndocs = df.agg(F.count("*").cast("double").alias("_ndocs"))
    tc = _term_counts(df, id_col, text_col)
    docfreq = tc.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        tc.join(docfreq, on="term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("_ndocs") / F.col("df")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "tf", "df", "tfidf", "rank")
    )


def bm25_search(
    df: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
) -> DataFrame:
    """BM25 ranking of documents against a whitespace-tokenized query
    string (Robertson/Sparck-Jones idf with +1 floor inside the log:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5))).

    Plan: token explode → per-doc tf ⋈ (tiny, broadcast) query-term
    list ⋈ query-term df table ⋈ per-doc lengths → one aggregate per
    doc → global top-n. The only corpus-sized shuffles are the two
    hash aggregates (term counts, doc lengths); document frequency is
    aggregated AFTER the query-term semi-filter and everything joined
    on is broadcast.

    The query tokenizes exactly like the corpus side (``text.tokens``:
    lowercase, split on single spaces, empties dropped) — a query
    split on arbitrary whitespace would produce terms the corpus
    tokenizer never emits, silently scoring 0."""
    spark = df.sparkSession
    q_terms = [t for t in query.lower().split(" ") if t]
    if not q_terms:
        raise ValueError("empty query")
    qdf = local_frame(spark, [(t,) for t in sorted(set(q_terms))], "term string")

    # corpus size folded in as a broadcast 1-row aggregate (r13) —
    # same rationale and bit-identical arithmetic as tfidf_top_terms;
    # counted over df itself (not doclen) so empty/NULL-text docs
    # still count, exactly like the old df.count()
    ndocs = df.agg(F.count("*").cast("double").alias("_ndocs"))
    tc = _term_counts(df, id_col, text_col)
    doclen = tc.groupBy("id").agg(F.sum("tf").cast("long").alias("dl"))
    # avgdl folded in as a broadcast 1-row aggregate: no separate
    # driver job to learn a scalar the plan can carry itself
    avgdl = doclen.agg(F.avg("dl").alias("_avgdl"))
    # document frequency over the QUERY's terms only — the broadcast
    # semi-filter runs before the aggregate, so the df shuffle carries
    # a handful of terms, not the corpus vocabulary (df values for
    # those terms are identical either way)
    qtc = tc.join(F.broadcast(qdf), on="term")
    docfreq = qtc.groupBy("term").agg(F.count("*").cast("long").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("_ndocs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
    )
    scored = (
        qtc
        .join(F.broadcast(docfreq), on="term")
        .join(doclen, on="id")
        .crossJoin(F.broadcast(avgdl))
        .crossJoin(F.broadcast(ndocs))
        .withColumn("contrib", idf * tf_part)
        .groupBy("id")
        .agg(F.sum("contrib").alias("score"))
    )
    # TakeOrderedAndProject (per-partition top-n + merge) instead of a
    # global row_number window, which would single-partition ALL scored
    # docs; the rank window then runs over top_n rows only
    top = scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(top_n)
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.col("id").alias(id_col), "score", "rank"
    )
