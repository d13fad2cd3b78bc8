"""Trainable document-quality classifier: hash-featured logistic regression
whose SCORING is a pure deterministic Column chain.

The static ``text.quality_score`` heuristic is a fixed linear blend of three
signals. Real pipelines tune the blend against labeled data (wiki-vs-crawl
style weak labels); this module trains that model WITHOUT leaving Spark's
execution model or adding a serving dependency:

- **Features** (``quality_features``): a bias, the engine's existing dense
  text signals (length norm, stopword ratio, punctuation ratio, mean word
  length), and a hashed bag-of-words — token → ``conv(md5[:4], 16, 10) %
  n_buckets`` frequency per bucket (the hashing trick; the md5-prefix hash
  is the repo's portable-hash idiom, reproducible in an external oracle,
  unlike Spark's Murmur3). Everything is JVM Column arithmetic.
- **Training** (``fit_quality_classifier``): logistic regression by IRLS —
  each iteration aggregates the D×D normal-equation terms (X'WX, X'Wz) with
  one Arrow-batched ``mapInPandas`` pass (fixed-order partials per
  partition, one tiny row each), solves the D×D system on the driver by
  Gaussian elimination, and broadcasts the
  new weights into the next pass. D = n_buckets + 5 (~21): per-iteration
  driver work is O(D²) rows × partitions — scale-invariant; the corpus is
  only ever scanned, never collected.
- **Scoring** (``classifier_score``): ``sigmoid(w · features)`` as a Column
  expression with the learned weights inlined as literals — whole-stage
  codegen, oracle-checkable (a DuckDB twin runs the identical chain), and
  usable anywhere a Column fits, including the streaming ingest quality
  floor (``IngestConfig.quality_weights``).
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.functions.numeric import stable_round
from kafka_connector_s3_sink_spark.operators.text import (
    mean_word_length,
    punct_ratio,
    stopword_ratio,
    tokens_column,
)

N_BUCKETS = 16
N_DENSE = 5  # bias + 4 signals

# Reference model: trained by ``fit_quality_classifier`` on PINNED_CORPUS
# (below). Training is bit-deterministic (zero init, closed-form IRLS
# steps, fixed-order arithmetic that no CPU dispatch changes), so refitting
# the corpus reproduces these weights EXACTLY on any host —
# ``tests/test_quality.py`` pins that. The correctness gate scores the
# documents table with this model (``text_corpus_stats`` ``quality_clf``
# branch) against a DuckDB oracle running the identical arithmetic.
PINNED_CORPUS: tuple[tuple[str, int], ...] = (
    ("the committee published its final report on the river restoration and "
     "the town council voted to adopt all of its recommendations this year", 1),
    ("she walked along the shore in the morning and watched the boats come "
     "in with the tide while the gulls circled over the harbor wall", 1),
    ("a careful reader will notice that the author returns to the same theme "
     "in each chapter and builds the argument slowly toward its conclusion", 1),
    ("the orchestra rehearsed for three hours and the conductor was pleased "
     "with the balance between the strings and the brass in the final piece", 1),
    ("after the storm had passed the farmers walked their fields and found "
     "that the new drainage channels had carried most of the water away", 1),
    ("the museum opened a new wing this spring and the first exhibition "
     "traces the history of printing from carved blocks to movable type", 1),
    ("!!! click here buy now $$$ ;;; ::: !!!", 0),
    ("xx yy zz qq ww !!!! ???? ....", 0),
    ("aaa bbb ccc ddd eee fff ggg", 0),
    ("%% ## @@ || ~~ ^^ ``", 0),
    ("win win win free free free !!! $$$", 0),
    ("qwerty asdf zxcv uiop hjkl ;;;", 0),
)

PINNED_WEIGHTS_V1: tuple[float, ...] = (
    -3.618904674785011,
    10.386635016917069,
    12.678851078760797,
    -3.837861344287825,
    3.8198887781211797,
    0.5995421700836379,
    -0.44598586661763173,
    -3.321249137507825,
    1.5722498923417572,
    4.7665895535090606,
    2.4030251803380485,
    -1.8440579828998176,
    -1.5568889232651195,
    -0.1986555677205355,
    2.443801939249958,
    0.5287297952986195,
    -0.6553756533544635,
    -3.6550837612605007,
    -4.3183113675375555,
    -1.1867896189404237,
    1.249554673498045,
)


def _bucket_eq(j: int):
    """Closure factory — HOF lambdas need exact arity (no default-arg
    captures)."""

    def eq(x: Column) -> Column:
        return x == j

    return eq


def _hashed_tokens(text: Column, n_buckets: int) -> Column:
    """token → ``conv(md5[:4], 16, 10) % n_buckets`` over the lowercased
    tokens — the hashing-trick array every feature form derives from."""
    return F.transform(
        tokens_column(F.lower(text)),
        lambda t: (
            F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int") % n_buckets
        ),
    )


def _dense_features(text: Column) -> list[Column]:
    """The shared bias + 4 dense signals (ADVICE r15: one expression list
    feeds every feature form so they cannot silently diverge)."""
    return [
        F.lit(1.0),
        F.least(F.length(text) / F.lit(500.0), F.lit(1.0)).cast("double"),
        stopword_ratio(text).cast("double"),
        punct_ratio(text).cast("double"),
        (F.least(mean_word_length(text), F.lit(20.0)) / F.lit(20.0)).cast(
            "double"
        ),
    ]


def _bucket_features(hashed: Column, n_buckets: int) -> list[Column]:
    """Per-bucket frequency expressions over an (already computed) hashed
    token array — shared by the Column form (inline array) and the barrier
    forms (materialized array column)."""
    n = F.greatest(F.size(hashed), F.lit(1))
    return [
        (F.size(F.filter(hashed, _bucket_eq(j))) / n).cast("double")
        for j in range(n_buckets)
    ]


def quality_features(text: Column, n_buckets: int = N_BUCKETS) -> Column:
    """``array<double>`` of length ``n_buckets + 5``:
    ``[1.0, len_norm, stopword_ratio, punct_ratio, mean_word_len_norm,
    bucket_0_freq, …]`` — all deterministic JVM expressions.

    NOTE (r15): as a pure Column this embeds one copy of the tokenize+hash
    subtree per bucket filter (HOF lambdas are interpreted, excluded from
    codegen CSE) — fine for a scalar probe or an oracle twin, the wrong
    shape for corpus-wide scans. Frame-level paths
    (``classifier_score_rows``, ``fit_quality_classifier``) materialize the
    hashed array once per row behind a Generate barrier instead."""
    hashed = _hashed_tokens(text, n_buckets)
    return F.array(
        *_dense_features(text), *_bucket_features(hashed, n_buckets)
    )


def _hashed_barrier(
    df: DataFrame, text: Column, n_buckets: int
) -> tuple[DataFrame, Column]:
    """``df`` + a materialized hashed-token array column behind a
    single-element-array explode (Generate) barrier — the ``text.analyze``
    pattern that stops Catalyst substituting the tokenize+hash subtree into
    each of the ``n_buckets`` downstream filters. Returns (frame, column).

    Internal column names are picked to dodge caller columns (ADVICE r15:
    fixed ``_q``/``_qh`` over ``select('*')`` broke on frames that already
    carried them)."""
    qh_name, st_name = "_qh", "_q"
    while qh_name in df.columns or st_name in df.columns:
        qh_name += "_"
        st_name += "_"
    barr = df.select(
        "*",
        F.explode(
            F.array(F.struct(_hashed_tokens(text, n_buckets).alias("qh")))
        ).alias(st_name),
    ).select(*df.columns, F.col(f"{st_name}.qh").alias(qh_name))
    return barr, F.col(qh_name)


def classifier_score_rows(
    df: DataFrame,
    weights: Sequence[float],
    text_col: str = "text",
    out_col: str = "clf_score",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """``df`` + a ``sigmoid(w · quality_features)`` column — the frame-level
    twin of ``classifier_score`` for corpus-wide scoring, value-identical
    (same expressions, same left-to-right fold) but with the hashed-token
    array materialized ONCE per row behind a single-element-array explode
    (Generate) barrier, the ``text.analyze`` pattern.

    Why the Column form is the wrong shape for bulk scoring (r15, measured
    7×: 5.4s → 0.73s over 5k docs at sf0.1): each of the ``n_buckets``
    bucket-frequency filters embeds its OWN copy of the ``transform`` that
    md5-hashes every token — HOF lambdas are interpreted and excluded from
    codegen subexpression elimination, so the tokenize+hash subtree ran
    16× per row. Behind the barrier the filters scan a materialized
    ``array<int>`` and the hashing runs once. The dense features still
    derive from ``text`` directly, exactly as in ``quality_features``."""
    t = F.col(text_col)
    barr, qh = _hashed_barrier(df, t, n_buckets)
    f = F.array(*_dense_features(t), *_bucket_features(qh, n_buckets))
    if len(weights) != n_buckets + N_DENSE:
        raise ValueError(
            f"expected {n_buckets + N_DENSE} weights, got {len(weights)}"
        )
    w = F.array(*[F.lit(float(x)) for x in weights])
    dot = F.aggregate(
        F.zip_with(f, w, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-dot))
    return barr.select(*df.columns, score.alias(out_col))


def fit_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = N_BUCKETS,
    iterations: int = 4,
    reg: float = 1e-3,
) -> list[float]:
    """Learn logistic-regression weights over ``quality_features`` by IRLS.

    Deterministic given the data (no sampling, no initialization noise:
    weights start at zero and every step is a closed-form solve), so
    repeated fits — and task retries inside a fit — produce identical
    models. ``reg`` is the ridge term that keeps the solve stable when a
    hash bucket is empty. The arithmetic is ``irls_partial`` per partition
    and ``irls_solve`` on the driver — the same kernel ``fit_irls`` runs on
    plain rows, bit-identical on any CPU (see ``irls_partial``).

    The feature frame is built on the same Generate-barrier shape as
    ``classifier_score_rows`` (r16, VERDICT r15 item 8): the Column form
    re-ran the tokenize+md5 subtree 16× per row, and each of the
    ``iterations`` IRLS scans paid it again. Values are bit-identical —
    same expressions over the same rows in the same partition layout — so
    the pinned-weight reproducibility contract holds."""
    dim = n_buckets + N_DENSE
    t = F.col(text_col)
    barr, qh = _hashed_barrier(
        df.select(t.alias(text_col), F.col(label_col)), t, n_buckets
    )
    feats = barr.select(
        F.array(
            *_dense_features(t), *_bucket_features(qh, n_buckets)
        ).alias("f"),
        F.col(label_col).cast("double").alias("y"),
    )
    w = [0.0] * dim
    for _ in range(iterations):

        def partial(batches, w=w) -> Iterator:
            import numpy as np
            import pandas as pd

            xtx, xtz = np.zeros((dim, dim)), np.zeros(dim)
            for pdf in batches:
                irls_partial(
                    pdf["f"].tolist(), pdf["y"].tolist(), w, xtx, xtz
                )
            yield pd.DataFrame(
                {"xtx": [xtx.ravel().tolist()], "xtz": [xtz.tolist()]}
            )

        parts = feats.mapInPandas(
            partial, "xtx array<double>, xtz array<double>"
        ).collect()  # O(n_partitions) tiny rows — the reduce step
        w = irls_solve([(r["xtx"], r["xtz"]) for r in parts], reg)
    return w


def irls_partial(features, labels, w, xtx, xtz) -> None:
    """Add one batch's IRLS normal-equation terms (X'WX into ``xtx``, X'Wz
    into ``xtz``, both numpy arrays updated in place) at weights ``w``.

    Every operation has a fixed order, so the result is bit-identical on
    any CPU: the per-row ``eta`` is an exactly rounded ``math.fsum``, the
    sigmoid uses libm's ``math.exp`` (``np.exp`` has AVX-512 variants), and
    X'WX is a running sum of per-row rank-1 elementwise products — no BLAS
    matmul, whose kernel (and summation order) OpenBLAS picks per CPU.
    Row order is the only order that matters: a partition's result does not
    depend on how it was cut into Arrow batches."""
    import numpy as np

    ww = np.asarray(w, dtype=float)
    for f, y in zip(features, labels):
        x = np.asarray(f, dtype=float)
        eta = math.fsum((x * ww).tolist())
        p = 1.0 / (1.0 + math.exp(min(-eta, 700.0)))
        wgt = max(p * (1.0 - p), 1e-6)
        z = eta + (float(y) - p) / wgt
        wx = x * wgt
        xtx += np.multiply.outer(wx, x)
        xtz += wx * z


def irls_solve(parts, reg: float) -> list[float]:
    """One IRLS step's new weights from per-partition ``(xtx, xtz)`` terms
    (flat lists or arrays, summed in the given order): solve
    ``(X'WX + reg·I) w = X'Wz`` by Gaussian elimination with partial
    pivoting in plain Python floats — LAPACK's solve runs on the same
    per-CPU BLAS dispatch ``irls_partial`` avoids."""
    import numpy as np

    xtz = np.zeros(len(parts[0][1]) if parts else 0)
    dim = len(xtz)
    xtx = np.zeros((dim, dim))
    for pxtx, pxtz in parts:
        xtx += np.asarray(pxtx, dtype=float).reshape(dim, dim)
        xtz += np.asarray(pxtz, dtype=float)
    if not xtx.any():
        raise ValueError(
            "fit_quality_classifier needs a non-empty labeled corpus"
        )
    a = [row + [b] for row, b in zip(xtx.tolist(), xtz.tolist())]
    for i in range(dim):
        a[i][i] += reg
    for k in range(dim):
        piv = max(range(k, dim), key=lambda r: abs(a[r][k]))
        a[k], a[piv] = a[piv], a[k]
        for r in range(k + 1, dim):
            f = a[r][k] / a[k][k]
            if f:
                a[r] = [v - f * u for v, u in zip(a[r], a[k])]
    w = [0.0] * dim
    for i in range(dim - 1, -1, -1):
        s = a[i][dim]
        for j in range(i + 1, dim):
            s -= a[i][j] * w[j]
        w[i] = s / a[i][i]
    return w


def fit_irls(
    features, labels, iterations: int = 4, reg: float = 1e-3
) -> list[float]:
    """``fit_quality_classifier``'s numeric kernel on plain feature rows,
    no Spark: the weights it returns equal a fit over one partition holding
    the same rows in the same order, bit for bit."""
    import numpy as np

    dim = len(features[0]) if features else 0
    w = [0.0] * dim
    for _ in range(iterations):
        xtx, xtz = np.zeros((dim, dim)), np.zeros(dim)
        irls_partial(features, labels, w, xtx, xtz)
        w = irls_solve([(xtx, xtz)], reg)
    return w


def classifier_score(
    text: Column, weights: Sequence[float], n_buckets: int = N_BUCKETS
) -> Column:
    """``sigmoid(w · quality_features(text))`` with ``weights`` inlined as
    literals — a pure Column chain (no UDF, no model object), identical
    under an external oracle running the same arithmetic."""
    if len(weights) != n_buckets + N_DENSE:
        raise ValueError(
            f"expected {n_buckets + N_DENSE} weights, got {len(weights)}"
        )
    f = quality_features(text, n_buckets)
    w = F.array(*[F.lit(float(x)) for x in weights])
    dot = F.aggregate(
        F.zip_with(f, w, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-dot))


# ---------------------------------------------------------------------------
# bigram language-model perplexity (CCNet-style quality signal)


def _tokens_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, toks) — the lowercased token array per document; the one
    frame every n-gram level derives from."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        tokens_column(F.lower(F.col(text_col))).alias("toks"),
    )


def _bigram_pairs_from_tokens(tk: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) from a ``_tokens_frame`` — two slices zipped and
    exploded; a doc with < 2 tokens emits nothing."""
    toks = F.col("toks")
    n = F.size(toks)
    zipped = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        tk.select("doc_id", F.explode(zipped).alias("_b"))
        .select("doc_id", "_b.w1", "_b.w2")
    )


def _bigram_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent lowercased-token pair. Pure
    JVM array ops: two slices zipped and exploded; a doc with < 2 tokens
    emits nothing."""
    return _bigram_pairs_from_tokens(_tokens_frame(df, id_col, text_col))


def bigram_perplexity(
    docs: DataFrame,
    model_docs: DataFrame | None = None,
    k: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document bigram language-model perplexity:
    (doc_id, n_bigrams, avg_nll, ppl) with

        p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)      [add-k smoothing]
        ppl      = exp( mean over the doc's bigrams of −ln p )

    the CCNet recipe (Wenzek et al. 2020, public) with the KenLM n-gram
    model replaced by a self-contained add-k bigram model — low perplexity
    under a model trained on reference text means "reads like natural
    language", the standard pretraining quality filter. ``model_docs``
    defaults to ``docs`` (self-trained — perplexity under the corpus's own
    statistics, which still separates boilerplate/gibberish from prose);
    pass a curated reference corpus for CCNet-style filtering proper.

    Distributed shape: the model is two hash aggregations over exploded
    bigrams (c2 on (w1,w2), c1 as its (w1) rollup) plus a 1-row vocabulary
    scalar that rides a broadcast cross join; scoring is an equi-join of
    the target's bigrams against the count tables — all map-reduce, nothing
    all-pairs, no UDFs. Skew note for 100 TB: stopword bigrams ("of the")
    dominate the join key distribution; AQE skew-join handles the reduce
    side, and the model tables are Zipf-sparse (far below corpus scale).
    Docs with < 2 tokens emit no bigrams and are absent from the result
    (no perplexity is defined for them)."""
    if model_docs is None:
        model_docs = docs
    bg_model = _bigram_pairs(model_docs, id_col=id_col, text_col=text_col)
    bc = bg_model.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = model_docs.select(
        F.explode(tokens_column(F.lower(F.col(text_col)))).alias("t")
    ).agg(F.count_distinct("t").cast("double").alias("v"))

    target = _bigram_pairs(docs, id_col=id_col, text_col=text_col)
    nll = -F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + k)
        / (F.coalesce(F.col("c1"), F.lit(0)) + k * F.col("v"))
    )
    per_doc = (
        target.join(bc, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum(nll).alias("_s"))
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        (F.col("_s") / F.col("n_bigrams")).alias("avg_nll"),
        F.exp(F.col("_s") / F.col("n_bigrams")).alias("ppl"),
    )


def _trigram_triples_from_tokens(tk: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, w3) from a ``_tokens_frame`` — three slices zipped,
    exploded; a doc with < 3 tokens emits nothing."""
    toks = F.col("toks")
    n = F.size(toks)
    width = F.greatest(n - 2, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, width),
        F.slice(toks, 2, width),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    zipped = F.zip_with(
        pairs,
        F.slice(toks, 3, width),
        lambda p, c: F.struct(
            p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
        ),
    )
    return (
        tk.select("doc_id", F.explode(zipped).alias("_t"))
        .select("doc_id", "_t.w1", "_t.w2", "_t.w3")
    )


def trigram_perplexity(
    docs: DataFrame,
    model_docs: DataFrame | None = None,
    k: float = 0.1,
    lambdas: tuple[float, float, float] = (0.1, 0.3, 0.6),
    id_col: str = "doc_id",
    text_col: str = "text",
    unpersist_registry: list | None = None,
) -> DataFrame:
    """Per-document INTERPOLATED trigram-LM perplexity:
    (doc_id, n_trigrams, avg_nll, ppl) with

        p(w3|w1,w2) = λ₁·p₁(w3) + λ₂·p₂(w3|w2) + λ₃·p₃(w3|w1,w2)
        pₙ          = (count + k) / (context count + k·V)   [add-k per level]
        ppl         = exp( mean over the doc's trigrams of −ln p )

    Jelinek-Mercer interpolation over the same add-k levels as
    ``bigram_perplexity`` — the standard filter grade: bigram statistics
    barely separate fluent spam from prose, while the trigram level rewards
    text whose 3-token continuations match the reference corpus, and the
    interpolation keeps unseen contexts finite instead of collapsing to the
    uniform floor. ``lambdas`` = (unigram, bigram, trigram) weights, must
    sum to 1. ``model_docs`` defaults to ``docs`` (self-trained); pass a
    curated reference corpus for CCNet-style filtering proper (Wenzek et
    al. 2020 — KenLM replaced by this self-contained model).

    Distributed shape: one more rollup than the bigram model — trigram
    counts c3 on (w1,w2,w3) with their (w1,w2) context rollup, the bigram
    level's counts + (w1) rollup, unigram counts, and a 1-row (V, N) scalar
    riding a broadcast cross join; scoring is four equi-joins of the
    target's triples against Zipf-sparse count tables — all map-reduce,
    nothing all-pairs, no UDFs. Stopword-trigram join skew is AQE's reduce-
    side skew-join case, same as the bigram model. Docs with < 3 tokens
    emit no trigrams and are absent from the result."""
    l1, l2, l3 = lambdas
    if abs(l1 + l2 + l3 - 1.0) > 1e-9:
        raise ValueError(f"interpolation weights must sum to 1, got {lambdas}")
    # One tokenize per corpus, not six (r16): every level (trigram counts,
    # bigram counts, unigram counts + scalars, target triples) used to
    # re-derive tokens_column from text — six regex-tokenize passes per
    # evaluation, none shared (the aggregates above each exchange differ,
    # so exchange reuse never applies). All levels now slice ONE
    # (doc_id, toks) frame; with ``unpersist_registry`` the frame is
    # persisted (1× the tokenized corpus — the model tables themselves
    # stay Zipf-sparse) and registered for the caller to release.
    # Interleaved micro at sf0.1: {2.94,2.71,2.59,2.62}s →
    # {2.32,2.11,2.02,2.24}s, values identical.
    tk_target = _tokens_frame(docs, id_col, text_col)
    if unpersist_registry is not None:
        tk_target = tk_target.persist()
        unpersist_registry.append(tk_target)
    if model_docs is None:
        tk_model = tk_target
    else:
        tk_model = _tokens_frame(model_docs, id_col, text_col)
        if unpersist_registry is not None:
            tk_model = tk_model.persist()
            unpersist_registry.append(tk_model)
    tri_model = _trigram_triples_from_tokens(tk_model)
    c3 = tri_model.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    cctx = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("cctx"))
    bg_model = _bigram_pairs_from_tokens(tk_model)
    cb = (
        bg_model.groupBy(F.col("w1").alias("u1"), F.col("w2").alias("u2"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    cb1 = cb.groupBy("u1").agg(F.sum("cb").alias("cb1"))
    uni = tk_model.select(F.explode(F.col("toks")).alias("t"))
    cu = uni.groupBy("t").agg(F.count(F.lit(1)).alias("cu"))
    scalars = uni.agg(
        F.count_distinct("t").cast("double").alias("v"),
        F.count(F.lit(1)).cast("double").alias("ntok"),
    )

    target = _trigram_triples_from_tokens(tk_target)
    kv = F.lit(k) * F.col("v")
    p3 = (F.coalesce(F.col("c3"), F.lit(0)) + k) / (
        F.coalesce(F.col("cctx"), F.lit(0)) + kv
    )
    p2 = (F.coalesce(F.col("cb"), F.lit(0)) + k) / (
        F.coalesce(F.col("cb1"), F.lit(0)) + kv
    )
    p1 = (F.coalesce(F.col("cu"), F.lit(0)) + k) / (F.col("ntok") + kv)
    nll = -F.log(l1 * p1 + l2 * p2 + l3 * p3)
    per_doc = (
        target.join(c3, ["w1", "w2", "w3"], "left")
        .join(cctx, ["w1", "w2"], "left")
        .join(cb, (F.col("w2") == F.col("u1")) & (F.col("w3") == F.col("u2")), "left")
        .join(cb1.withColumnRenamed("u1", "_b1"), F.col("w2") == F.col("_b1"), "left")
        .join(cu, F.col("w3") == F.col("t"), "left")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_trigrams"), F.sum(nll).alias("_s"))
    )
    return per_doc.select(
        "doc_id",
        "n_trigrams",
        (F.col("_s") / F.col("n_trigrams")).alias("avg_nll"),
        F.exp(F.col("_s") / F.col("n_trigrams")).alias("ppl"),
    )


def binary_auc(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Exact ROC-AUC of a scorer against binary labels, computed at scale.

    AUC = P(score⁺ > score⁻) + ½·P(tie), evaluated WITHOUT ranking
    individual rows: scores are rounded to ``round_digits`` (the exactness
    contract — AUC of the rounded scores, which is what the Column-chain
    scorers emit anyway) and aggregated per distinct value (ONE map-side
    combined shuffle). The cumulative pass then runs over ≤ 10^digits
    distinct buckets — bounded by config, not data, so the single-task
    window is the same class of escape as the pack-shard offset window.
    Per bucket: positives contribute (negatives strictly below + half the
    tied negatives).

    Output: one row — (auc, n_pos, n_neg). The evaluation loop
    ``fit_quality_classifier`` needs before its threshold goes into the
    ingest floor."""
    from pyspark.sql import Window

    s = stable_round(F.col(score_col), round_digits).alias("s")
    lab = F.col(label_col).cast("int")
    per_score = (
        df.select(s, lab.alias("y"))
        .groupBy("s")
        .agg(
            F.sum("y").alias("n_pos"),
            F.sum(1 - F.col("y")).alias("n_neg"),
        )
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    contrib = per_score.select(
        "n_pos",
        "n_neg",
        (
            F.col("n_pos")
            * (
                F.coalesce(F.sum("n_neg").over(w), F.lit(0))
                + F.col("n_neg") / 2.0
            )
        ).alias("c"),
    )
    # guard the denominator: a slice with only one class present (plausible
    # for a per-epoch monitoring batch) has no defined ranking statistic —
    # emit auc = NULL explicitly rather than a silent divide-by-zero null,
    # and let callers branch on n_pos/n_neg which are always populated.
    denom = F.sum("n_pos") * F.sum("n_neg")
    return contrib.agg(
        F.when(
            denom > 0,
            stable_round(F.sum("c") / denom, round_digits),
        ).alias("auc"),
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
    )


def precision_recall_curve(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Exact precision/recall/F1 at every distinct score threshold —
    (threshold, n_predicted_pos, tp, precision, recall, f1), one row per
    distinct rounded score, where row t reports the classifier "keep iff
    score >= t". The operating-point picker that turns a trained quality
    classifier into an ingest floor: scan the curve, choose the threshold
    whose precision/recall trade-off fits the corpus budget (the companion
    to ``binary_auc``'s single ranking number).

    Same scale shape as ``binary_auc``: scores round to ``round_digits``
    and aggregate per distinct value (one map-side combined shuffle), then
    the cumulative pass runs a window over ≤ 10^digits buckets — bounded
    by config, not data. Cumulation is FROM THE TOP (descending scores):
    tp(t) = Σ positives with score >= t."""
    from pyspark.sql import Window

    s = stable_round(F.col(score_col), round_digits).alias("threshold")
    lab = F.col(label_col).cast("int")
    per_score = (
        df.select(s, lab.alias("y"))
        .groupBy("threshold")
        .agg(
            F.sum("y").alias("pos_here"),
            F.count(F.lit(1)).alias("n_here"),
        )
    )
    w = (
        Window.orderBy(F.col("threshold").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total_pos = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    curve = per_score.select(
        "threshold",
        F.sum("n_here").over(w).alias("n_predicted_pos"),
        F.sum("pos_here").over(w).alias("tp"),
        F.sum("pos_here").over(total_pos).alias("_all_pos"),
    )
    precision = F.col("tp") / F.col("n_predicted_pos")
    recall = F.when(
        F.col("_all_pos") > 0, F.col("tp") / F.col("_all_pos")
    )  # no positives at all → recall undefined (NULL), like auc
    # undefined recall (zero positives in the slice) must propagate to f1 as
    # NULL — the module contract binary_auc set: one-class slices have no
    # defined score, and 0.0 would read as "measured terrible" instead of
    # "not measurable". f1 is 0.0 only when recall IS defined but p+r == 0.
    f1 = F.when(
        recall.isNotNull() & (precision + recall > 0),
        2 * precision * recall / (precision + recall),
    ).otherwise(F.when(recall.isNotNull(), F.lit(0.0)))
    return curve.select(
        "threshold",
        "n_predicted_pos",
        "tp",
        stable_round(precision, round_digits).alias("precision"),
        stable_round(recall, round_digits).alias("recall"),
        stable_round(f1, round_digits).alias("f1"),
    ).orderBy(F.col("threshold").desc())
