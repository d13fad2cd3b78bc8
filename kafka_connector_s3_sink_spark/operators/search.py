"""Lexical retrieval over a document corpus: BM25 scoring and top-k search.

The retrieval counterpart to ``similarity``'s embedding ANN — a pretraining
pipeline uses lexical search for targeted quality audits ("show me the docs
matching this query"), keyword-level decontamination sweeps, and seed-set
expansion, all without an embedding model in the loop. BM25 (Robertson &
Spärck Jones's probabilistic relevance framework; the Okapi BM25 form with
the standard k1/b parameters) is the public-domain baseline every search
engine implements.

Spark-first shape — classic distributed inverted-index statistics, no UDFs:

- tokenize once (JVM ``split``), explode to postings, one shuffle to
  per-(doc, term) term frequencies;
- corpus scalars (N, avgdl) ride a broadcast 1-row cross join (the same
  scalar-combination pattern as the TPC-H scalar entries);
- the query term set is tiny by construction → broadcast; the corpus-sized
  postings table is FILTERED by that broadcast join before anything else
  touches it, so per-query work scales with the posting lists of the query
  terms, never the corpus (document frequency for the IDF is computed from
  those filtered postings — df only matters for terms that are actually
  queried);
- final ranking reuses ``similarity._partition_local_topk``: a bounded
  partition-local top-k feeds the exact ``row_number`` window, so only
  ≤ |queries|·k·P candidate rows ever reach the per-query reducer — the
  same straggler-avoidance as ``brute_force_topk`` (a common query term at
  100 TB would otherwise funnel millions of scored rows into one task).

Determinism: scores are ``stable_round``-ed before ranking and ties break on
doc id, so the result is reproducible and DuckDB-oracle-checkable (the gate
branch re-runs the identical tokenize → tf/df → score chain in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.functions.numeric import stable_round

# one regex, shared with the oracle SQL: whitespace tokenization of the
# lowercased text. Deliberately simple — the same trade as text.token_count.
TOKEN_SPLIT_RE = r"\s+"


def tokens(col) -> "F.Column":
    """Lowercased whitespace tokens with empties dropped (a leading/trailing
    separator yields '' elements from split — both engines drop them)."""
    return F.filter(
        F.split(F.lower(F.trim(col)), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def term_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, dl, term, tf) postings: one explode + one shuffle on
    (doc_id, term). ``dl`` (document length in tokens) joins the group key —
    it is functionally dependent on doc_id, so the extra key is free and
    saves a corpus-sized join later."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    ).withColumn("dl", F.size("_toks"))
    return (
        toks.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Top-k BM25 results per query: (query_id, nbr_id, score, rank).

    score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the standard Okapi
    form with the non-negative idf variant. Duplicate query terms count
    once (set semantics, the common convention for short queries)."""
    from kafka_connector_s3_sink_spark.operators.similarity import (
        _partition_local_topk,
        _rank_topk,
    )

    tf = term_frequencies(docs, id_col=id_col, text_col=text_col)

    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(F.col(query_text_col)))).alias("term"),
    )
    terms = qterms.select("term").distinct()

    # the corpus-sized postings table shrinks to the query terms' posting
    # lists BEFORE any further work — broadcast the (tiny) term set
    posting = tf.join(F.broadcast(terms), "term")

    # document frequency per queried term, from the filtered postings (one
    # row per (doc, term) already, so a count is the df); N and avgdl are a
    # broadcast 1-row scalar
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scalars = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens(F.col(text_col)))).alias("avgdl"),
    )

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        posting.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(scalars))
        .groupBy("query_id", "doc_id")
        .agg(stable_round(F.sum(idf * tf_part), 4).alias("score"))
        .select("query_id", F.col("doc_id").alias("nbr_id"), "score")
    )
    candidates = scored.mapInPandas(
        _partition_local_topk(k, score_col="score"), schema=scored.schema
    )
    return _rank_topk(candidates, k, score_col="score")
