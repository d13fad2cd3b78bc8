"""DSIR-style data selection via importance resampling.

The published recipe (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling", public): represent every document by hashed
n-gram features, fit two bag-of-buckets distributions — ``p`` over a small
curated TARGET corpus and ``q`` over the RAW crawl — and score each raw
document by its importance log-weight

    log w(x) = sum over x's hashed grams b of [ ln p(b) − ln q(b) ]

then sample without replacement proportionally to ``w`` via the Gumbel
top-k trick: draw one Gumbel per document, keep the k largest
``log w + Gumbel``. Documents that "read like" the target distribution are
up-weighted; generic crawl text is down-weighted.

Distributed shape (the 100 TB argument):

* Feature extraction is row-local: lowercased whitespace unigrams +
  bigrams (the paper's features), hashed into ``n_buckets`` with the
  repo-wide md5 idiom (``sampling.hash_bucket``) — pure column
  expressions, no UDF, identical math in DuckDB so every stage is
  oracle-checkable.
* Each distribution fit is ONE exploded aggregation that collapses to at
  most ``n_buckets`` rows (map-side partial agg does the heavy lifting;
  the shuffle moves <= n_buckets rows per task). The fitted tables are
  broadcast — they never grow with the corpus.
* Scoring joins the raw side's exploded grams against the two broadcast
  bucket tables and re-aggregates by document — one doc-keyed shuffle
  whose width partial aggregation reduces to ~one row per document.
  Nothing is all-pairs; nothing collects to the driver.
* Selection is ``ORDER BY score DESC LIMIT k`` — Spark plans
  TakeOrderedAndProject (per-partition top-k then a k-row merge), not a
  global sort.

Smoothing: add-``smoothing`` (Laplace) over the bucket space, so unseen
buckets get mass ``α / (N + α·m)`` on both sides — a raw gram absent from
both corpora contributes ln(q_total_adj/p_total_adj), never ±inf.

Determinism: the Gumbel noise derives from ``md5(seed ':' doc_id)``
(``sampling.hash_bucket``), so re-runs select the identical document set
on any cluster layout — the same resumability contract as every sampler
in ``operators/sampling.py``.

Reference scope note: the reference connector (Aiven S3 sink) has no
data-selection surface; this module is part of the training-data layer
this engine adds on top (SURVEY.md §8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_connector_s3_sink_spark.operators.sampling import hash_unit
from kafka_connector_s3_sink_spark.operators.text import tokens_column

N_BUCKETS = 4096


def hashed_gram_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    seed: str = "dsir",
) -> DataFrame:
    """(doc_id, bucket) — one row per unigram AND per adjacent bigram of the
    lowercased whitespace tokenization, hashed into ``[0, n_buckets)`` via
    the repo md5 idiom (first 6 hex chars → int, mod m; DuckDB twin:
    ``CAST('0x' || substr(md5(...), 1, 6) AS BIGINT) % m``). Row-local and
    UDF-free; a document with zero tokens emits nothing."""
    toks = tokens_column(F.lower(F.col(text_col)))
    n = F.size(toks)
    width = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, width),
        F.slice(toks, 2, width),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(toks, bigrams)
    digest = F.md5(F.concat(F.lit(f"{seed}:"), F.col("gram")))
    bucket = (
        F.conv(F.substring(digest, 1, 6), 16, 10).cast("long") % n_buckets
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram"))
        .select("doc_id", bucket.alias("bucket"))
    )


def bucket_counts(
    grams: DataFrame,
) -> DataFrame:
    """(bucket, c) over a hashed-gram frame — the fitted bag-of-buckets
    model, <= n_buckets rows however large the corpus (map-side partial
    aggregation collapses each task to bucket granularity before the
    shuffle)."""
    return grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    smoothing: float = 1.0,
    seed: str = "dsir",
    unpersist_registry: list | None = None,
) -> DataFrame:
    """(doc_id, n_grams, log_weight): the DSIR importance log-weight of every
    raw document under the hashed-gram models fitted on ``target`` (p) and
    ``raw`` itself (q).

    Plan: two bucket-level fits (tiny, broadcast), two one-row totals
    scalars (broadcast cross join — the ``bigram_perplexity`` idiom), one
    left join of raw's exploded grams against each broadcast table, one
    doc-keyed aggregation. The raw gram frame feeds BOTH the q fit and the
    scoring join, and Catalyst does not reuse the exchange across those
    subscriptions — it is persisted (the ``dedup._materialize`` pattern:
    the (doc_id, bucket) rows are the *reduced* intermediate, two ints per
    gram, far smaller than the text corpus; MEMORY_AND_DISK spills instead
    of failing; measured 2.2× faster than the recompute form at sf0.1).
    Documents with zero tokens emit no grams and are absent from the
    result (no weight is defined for them), matching the perplexity
    contract."""
    from pyspark import StorageLevel

    if smoothing <= 0.0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    tgt_grams = hashed_gram_buckets(
        target, id_col=id_col, text_col=text_col, n_buckets=n_buckets, seed=seed
    )
    raw_grams = hashed_gram_buckets(
        raw, id_col=id_col, text_col=text_col, n_buckets=n_buckets, seed=seed
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if unpersist_registry is not None:
        # deferred-release contract (incremental.incremental_dedup's idiom):
        # the cache must outlive this lazy return; the caller unpersists
        # after materializing (bench/gate call release_caches between entries)
        unpersist_registry.append(raw_grams)
    p = bucket_counts(tgt_grams).withColumnRenamed("c", "cp")
    q = bucket_counts(raw_grams).withColumnRenamed("c", "cq")
    totals = (
        p.agg(F.sum("cp").cast("double").alias("tp"))
        .crossJoin(q.agg(F.sum("cq").cast("double").alias("tq")))
    )
    a = float(smoothing)
    m = float(n_buckets)
    term = F.log(
        (F.coalesce(F.col("cp"), F.lit(0)).cast("double") + a)
        / (F.col("tp") + a * m)
    ) - F.log(
        (F.coalesce(F.col("cq"), F.lit(0)).cast("double") + a)
        / (F.col("tq") + a * m)
    )
    return (
        raw_grams.join(F.broadcast(p), "bucket", "left")
        .join(F.broadcast(q), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(term).alias("log_weight"),
        )
    )


def gumbel_key(id_col, seed: str = "dsir-gumbel"):
    """Deterministic standard-Gumbel draw per id: u = (h + 0.5) / 2^52 with
    h the first 13 md5 hex chars (``sampling.hash_unit`` — 52-bit draw so a
    large corpus doesn't collapse to 65536 distinct Gumbel values and tie
    systematically on the id tie-break), g = −ln(−ln u), never exactly 0
    or 1. The same expression evaluates in DuckDB, so Gumbel-top-k
    selection is oracle-replayable."""
    return -F.log(-F.log(hash_unit(id_col, seed)))


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    smoothing: float = 1.0,
    seed: str = "dsir",
    gumbel_seed: str = "dsir-gumbel",
    unpersist_registry: list | None = None,
) -> DataFrame:
    """The k raw documents selected by Gumbel top-k importance resampling:
    all raw columns plus (n_grams, log_weight, select_score), where
    select_score = log_weight + Gumbel(doc_id). ORDER BY + LIMIT plans
    TakeOrderedAndProject — per-partition top-k, k-row merge, no global
    sort. Deterministic under the seeds: re-runs select the same set."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    w = dsir_log_weights(
        raw,
        target,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        smoothing=smoothing,
        seed=seed,
        unpersist_registry=unpersist_registry,
    )
    score = F.col("log_weight") + gumbel_key(F.col(id_col), gumbel_seed)
    return (
        raw.join(w, raw[id_col] == w["doc_id"])
        .drop(w["doc_id"])
        .withColumn("select_score", score)
        .orderBy(F.col("select_score").desc(), F.col(id_col))
        .limit(k)
    )


def dsir_resample_with_model(
    raw: DataFrame,
    path: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    gumbel_seed: str = "dsir-gumbel",
) -> DataFrame:
    """``dsir_resample`` against a PERSISTED model (``persist_dsir_model``):
    score O(batch) via ``dsir_score_batch`` (the curated target is never
    rescanned), then the same Gumbel top-k cut — TakeOrderedAndProject,
    deterministic under the seed. The composition the pretraining preset
    uses when the fit already happened offline."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    w = dsir_score_batch(raw, path, id_col=id_col, text_col=text_col)
    score = F.col("log_weight") + gumbel_key(F.col(id_col), gumbel_seed)
    return (
        raw.join(w, raw[id_col] == w["doc_id"])
        .drop(w["doc_id"])
        .withColumn("select_score", score)
        .orderBy(F.col("select_score").desc(), F.col(id_col))
        .limit(k)
    )


def persist_dsir_model(
    target: DataFrame,
    raw: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    smoothing: float = 1.0,
    seed: str = "dsir",
) -> None:
    """Fit the DSIR model ONCE and persist it: two <=``n_buckets``-row count
    tables (``p`` from the curated target, ``q`` from a reference crawl
    snapshot) plus a one-row params table (totals + the hash/smoothing
    configuration, so scoring can never silently drift from the fit). The
    incremental pattern every index in this repo follows: the expensive
    corpus pass happens once offline; every crawl batch afterwards scores
    in O(batch) against the tiny persisted tables."""
    if smoothing <= 0.0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    spark = target.sparkSession
    p = bucket_counts(
        hashed_gram_buckets(target, id_col, text_col, n_buckets, seed)
    ).withColumnRenamed("c", "cp")
    q = bucket_counts(
        hashed_gram_buckets(raw, id_col, text_col, n_buckets, seed)
    ).withColumnRenamed("c", "cq")
    p.coalesce(1).write.mode("overwrite").parquet(f"{path}/p")
    q.coalesce(1).write.mode("overwrite").parquet(f"{path}/q")
    tp = spark.read.parquet(f"{path}/p").agg(F.sum("cp")).collect()[0][0]
    tq = spark.read.parquet(f"{path}/q").agg(F.sum("cq")).collect()[0][0]
    spark.createDataFrame(
        [(float(tp), float(tq), n_buckets, float(smoothing), seed)],
        "tp double, tq double, n_buckets int, smoothing double, seed string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def dsir_score_batch(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, log_weight) for a crawl batch against the PERSISTED
    model — O(batch): the batch's grams broadcast-join the two tiny count
    tables; the reference corpus that fit the model is never rescanned.
    Hash seed, bucket count, and smoothing come from the persisted params,
    so a batch scored today and a batch scored after 100 more crawl epochs
    sit on the same scale. Identical math to ``dsir_log_weights`` (pinned
    by test: persist + score == the in-memory chain bit-for-bit)."""
    spark = batch.sparkSession
    params = spark.read.parquet(f"{path}/params").collect()[0]
    p = spark.read.parquet(f"{path}/p")
    q = spark.read.parquet(f"{path}/q")
    grams = hashed_gram_buckets(
        batch, id_col, text_col, params.n_buckets, params.seed
    )
    a = params.smoothing
    m = float(params.n_buckets)
    term = F.log(
        (F.coalesce(F.col("cp"), F.lit(0)).cast("double") + a)
        / (F.lit(params.tp) + a * m)
    ) - F.log(
        (F.coalesce(F.col("cq"), F.lit(0)).cast("double") + a)
        / (F.lit(params.tq) + a * m)
    )
    return (
        grams.join(F.broadcast(p), "bucket", "left")
        .join(F.broadcast(q), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(term).alias("log_weight"),
        )
    )
