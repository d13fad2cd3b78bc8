"""Trainable quality classifier (`operators/quality.py`): IRLS training
separates planted good/junk corpora, fitting is deterministic, and scoring
is a pure Column chain a DuckDB oracle reproduces to the digit."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators.quality import (
    classifier_score,
    fit_quality_classifier,
    quality_features,
)

GOOD = [
    "the committee published its final report on the river restoration and "
    "the town council voted to adopt all of its recommendations this year",
    "she walked along the shore in the morning and watched the boats come "
    "in with the tide while the gulls circled over the harbor wall",
    "a careful reader will notice that the author returns to the same theme "
    "in each chapter and builds the argument slowly toward its conclusion",
    "the orchestra rehearsed for three hours and the conductor was pleased "
    "with the balance between the strings and the brass in the final piece",
]
JUNK = [
    "!!! click here buy now $$$ ;;; ::: !!!",
    "xx yy zz qq ww !!!! ???? ....",
    "aaa bbb ccc ddd eee fff ggg",
    "%% ## @@ || ~~ ^^ ``",
]


def _labeled(spark):
    rows = [Row(text=t, label=1) for t in GOOD] + [
        Row(text=t, label=0) for t in JUNK
    ]
    return spark.createDataFrame(rows)


def test_fit_separates_planted_corpora_and_is_deterministic(spark):
    df = _labeled(spark)
    w1 = fit_quality_classifier(df)
    w2 = fit_quality_classifier(df)
    assert w1 == w2  # zero-init + closed-form steps: bit-deterministic
    scored = df.select(
        "label", classifier_score(F.col("text"), w1).alias("s")
    ).collect()
    good = [r["s"] for r in scored if r["label"] == 1]
    bad = [r["s"] for r in scored if r["label"] == 0]
    assert min(good) > 0.5 > max(bad)
    assert min(good) > max(bad) + 0.2  # real margin, not threshold luck


def test_feature_vector_shape_and_determinism(spark):
    df = spark.createDataFrame([Row(text=GOOD[0])])
    f = df.select(quality_features(F.col("text")).alias("f")).collect()[0]["f"]
    assert len(f) == 21 and f[0] == 1.0
    assert all(v >= 0.0 for v in f)
    # hashed frequencies sum to ~1 (every token lands in exactly one bucket)
    assert abs(sum(f[5:]) - 1.0) < 1e-9


def test_classifier_score_matches_duckdb_twin(spark):
    """The scoring chain (tokenize → portable hash buckets → dense signals →
    dot → sigmoid) reproduces in DuckDB bit-for-bit at 1e-12 — the property
    that makes the classifier oracle-checkable."""
    duckdb = pytest.importorskip("duckdb")

    from kafka_connector_s3_sink_spark.operators.text import STOPWORDS

    df = _labeled(spark)
    w = fit_quality_classifier(df)
    got = {
        r["text"]: r["s"]
        for r in df.select(
            "text", classifier_score(F.col("text"), w).alias("s")
        ).collect()
    }

    stop_sql = "(" + ", ".join(f"'{s}'" for s in STOPWORDS) + ")"
    w_sql = "[" + ", ".join(repr(x) for x in w) + "]"
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join("(?)" for _ in got)
        + ") t(text)",
        list(got),
    )
    twin = con.execute(f"""
        WITH feats AS (
            SELECT text,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
                regexp_split_to_array(trim(text), '\\s+') AS rtoks
            FROM docs
        ), vec AS (
            SELECT text,
                list_concat(
                    [1.0,
                     least(length(text) / 500.0, 1.0),
                     len(list_filter(toks, t -> t IN {stop_sql}))
                        / greatest(len(toks), 1),
                     (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                        / greatest(length(text), 1),
                     least(list_sum(list_transform(rtoks, t -> length(t)))
                        / greatest(len(rtoks), 1), 20.0) / 20.0],
                    list_transform(range(0, 16), j ->
                        CAST(len(list_filter(
                            list_transform(toks, t ->
                                CAST('0x' || substr(md5(t), 1, 4) AS INTEGER) % 16),
                            h -> h = j)) AS DOUBLE) / greatest(len(toks), 1))
                ) AS f
            FROM feats
        )
        SELECT text,
            1.0 / (1.0 + exp(-list_sum(
                list_transform(range(0, 21), i -> f[i + 1] * ({w_sql})[i + 1])
            ))) AS s
        FROM vec
    """).fetchall()
    assert len(twin) == len(got)
    for text, s in twin:
        assert abs(s - got[text]) < 1e-12, text


def test_score_rejects_wrong_weight_count(spark):
    with pytest.raises(ValueError, match="21 weights"):
        classifier_score(F.col("text"), [0.0] * 5)


def test_pinned_weights_reproduce_exactly(spark):
    """PINNED_WEIGHTS_V1 is not a checked-in artifact of a lost run: fitting
    the pinned corpus reproduces it BIT-FOR-BIT (zero init + closed-form
    IRLS steps), so the gate's quality_clf branch scores a model anyone can
    re-derive."""
    from pyspark.sql import Row

    from kafka_connector_s3_sink_spark.operators.quality import (
        PINNED_CORPUS,
        PINNED_WEIGHTS_V1,
    )

    df = spark.createDataFrame(
        [Row(text=t, label=y) for t, y in PINNED_CORPUS]
    ).coalesce(1)
    assert tuple(fit_quality_classifier(df)) == PINNED_WEIGHTS_V1


def test_fit_kernel_is_bit_identical_under_other_cpu_dispatch(spark):
    """The fit's arithmetic does not depend on which SIMD/BLAS kernels the
    host CPU selects: the Spark-free kernel, rerun in a subprocess with
    OpenBLAS forced to Haswell and NumPy's AVX-512 loops disabled, returns
    the same weights bit for bit — and those equal the Spark fit and the
    pinned constant. (A BLAS matmul, ``np.exp`` or ``np.linalg.solve`` in
    the fit breaks this on AVX-512 hosts.)"""
    import json
    import os
    import subprocess
    import sys

    from numpy.core._multiarray_umath import __cpu_features__

    from kafka_connector_s3_sink_spark.operators.quality import (
        PINNED_CORPUS,
        PINNED_WEIGHTS_V1,
        fit_irls,
    )

    df = spark.createDataFrame([Row(text=t) for t, _ in PINNED_CORPUS])
    feats = [
        list(r["f"])
        for r in df.select(quality_features(F.col("text")).alias("f")).collect()
    ]
    labels = [y for _, y in PINNED_CORPUS]
    here = fit_irls(feats, labels)
    assert tuple(here) == PINNED_WEIGHTS_V1

    avx512 = ["AVX512F", "AVX512CD", "AVX512_SKX", "AVX512_CLX",
              "AVX512_CNL", "AVX512_ICL"]
    env = dict(
        os.environ,
        OPENBLAS_CORETYPE="Haswell",
        NPY_DISABLE_CPU_FEATURES=",".join(
            f for f in avx512 if __cpu_features__.get(f)
        ),
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from kafka_connector_s3_sink_spark.operators.quality import fit_irls\n"
        "d = json.load(sys.stdin)\n"
        "print(json.dumps(fit_irls(d['f'], d['y'])))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=json.dumps({"f": feats, "y": labels}),
        capture_output=True, text=True, env=env, check=True, timeout=120,
    )
    assert json.loads(out.stdout) == here


def test_bigram_perplexity_hand_computed(spark):
    """CCNet-style add-k bigram perplexity (r7): hand-checked probabilities
    on a tiny corpus; docs with < 2 tokens have no defined perplexity and
    are absent; a doc made of the model's most common bigram scores lowest."""
    import math

    from kafka_connector_s3_sink_spark.operators.quality import bigram_perplexity

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b"),
            Row(doc_id=2, text="A b"),          # lowercased -> same bigram
            Row(doc_id=3, text="z"),            # single token: no bigrams
        ]
    )
    out = {r["doc_id"]: r for r in bigram_perplexity(docs).collect()}
    assert set(out) == {1, 2}
    # self-trained model: c2(a,b)=3, c2(b,a)=1, c1(a)=3, c1(b)=1, V=3, k=0.1
    p_ab = 3.1 / 3.3
    p_ba = 1.1 / 1.3
    assert out[2]["n_bigrams"] == 1
    assert out[2]["ppl"] == pytest.approx(1.0 / p_ab)
    d1_nll = (2 * -math.log(p_ab) + -math.log(p_ba)) / 3
    assert out[1]["avg_nll"] == pytest.approx(d1_nll)
    assert out[1]["ppl"] == pytest.approx(math.exp(d1_nll))
    # the all-common-bigram doc reads as "more natural" than the mixed one
    assert out[2]["ppl"] < out[1]["ppl"]


def test_bigram_perplexity_external_model_and_oov(spark):
    """Scoring against a separate reference corpus: unseen bigrams fall to
    the smoothed floor instead of erroring, and gibberish scores worse than
    in-domain text."""
    from kafka_connector_s3_sink_spark.operators.quality import bigram_perplexity

    model = spark.createDataFrame(
        [Row(doc_id=i, text="the cat sat on the mat") for i in range(5)]
    )
    targets = spark.createDataFrame(
        [
            Row(doc_id=100, text="the cat sat"),        # in-domain
            Row(doc_id=101, text="qq ww ee rr"),        # fully OOV
        ]
    )
    out = {
        r["doc_id"]: r
        for r in bigram_perplexity(targets, model_docs=model).collect()
    }
    assert out[100]["ppl"] < out[101]["ppl"]
    # fully-OOV bigram probability is k/(0 + k*V) = 1/V with V=5
    import math
    assert out[101]["avg_nll"] == pytest.approx(math.log(5.0))


def test_trigram_perplexity_hand_computed(spark):
    """Interpolated trigram LM (r8): hand-checked λ-weighted probability on
    a tiny corpus; docs with < 3 tokens emit no trigrams; lambdas must sum
    to 1."""
    import math

    from kafka_connector_s3_sink_spark.operators.quality import (
        trigram_perplexity,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a"),
            Row(doc_id=2, text="a b"),  # 2 tokens: no trigrams
        ]
    )
    out = {r["doc_id"]: r for r in trigram_perplexity(docs).collect()}
    assert set(out) == {1}
    assert out[1]["n_trigrams"] == 3
    # model (self-trained over BOTH docs, k=0.1, V=2, N=7, λ=0.1/0.3/0.6):
    # trigrams: (a,b,a)x2, (b,a,b)x1; contexts: (a,b)=2, (b,a)=1
    # bigrams:  (a,b)x3 (doc 2 contributes one), (b,a)x2; rollups: a·=3, b·=2
    # unigrams: a=4, b=3
    k, V, N = 0.1, 2.0, 7.0
    def p(cu, cb, cb1, c3, cctx):
        return (
            0.1 * ((cu + k) / (N + k * V))
            + 0.3 * ((cb + k) / (cb1 + k * V))
            + 0.6 * ((c3 + k) / (cctx + k * V))
        )
    p_aba = p(4, 2, 2, 2, 2)  # w3=a, (w2,w3)=(b,a), (w1,w2)=(a,b)
    p_bab = p(3, 3, 3, 1, 1)  # w3=b, (w2,w3)=(a,b), (w1,w2)=(b,a)
    nll = (2 * -math.log(p_aba) + -math.log(p_bab)) / 3
    assert out[1]["avg_nll"] == pytest.approx(nll)
    assert out[1]["ppl"] == pytest.approx(math.exp(nll))
    with pytest.raises(ValueError, match="sum to 1"):
        trigram_perplexity(docs, lambdas=(0.5, 0.5, 0.5))


def test_trigram_separation_widens_vs_bigram(spark):
    """The filter-grade claim: under a model trained on reference prose, the
    trigram level rewards matching 3-token continuations, so the
    gibberish/prose perplexity ratio is strictly larger than the bigram
    model's on the same fixture."""
    import statistics

    from kafka_connector_s3_sink_spark.operators.quality import (
        bigram_perplexity,
        trigram_perplexity,
    )

    prose = [
        Row(
            doc_id=i,
            text="the cat sat on the mat and the dog sat on the rug "
            "while the cat ran to the mat",
        )
        for i in range(5)
    ]
    gib = [
        Row(doc_id=100 + i, text=" ".join(f"zx{i}q{j}" for j in range(20)))
        for i in range(3)
    ]
    model = spark.createDataFrame(prose)
    both = spark.createDataFrame(prose + gib)

    def sep(fn):
        ppl = {r["doc_id"]: r["ppl"] for r in fn(both, model).collect()}
        lo = statistics.mean(v for d, v in ppl.items() if d < 100)
        hi = statistics.mean(v for d, v in ppl.items() if d >= 100)
        return hi / lo

    assert sep(trigram_perplexity) > sep(bigram_perplexity) > 1.0


def test_binary_auc_hand_computed(spark):
    from kafka_connector_s3_sink_spark.operators.quality import binary_auc

    # scores: perfect separation -> AUC 1; anti-separation -> 0; ties -> 0.5
    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "score double, label int")
    assert binary_auc(perfect).collect()[0]["auc"] == 1.0
    inverted = spark.createDataFrame(
        [(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)], "score double, label int")
    assert binary_auc(inverted).collect()[0]["auc"] == 0.0
    allties = spark.createDataFrame(
        [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)], "score double, label int")
    assert binary_auc(allties).collect()[0]["auc"] == 0.5
    # mixed case, hand-computed: pairs (pos, neg): scores pos={.9,.4},
    # neg={.6,.2}; comparisons: .9>.6, .9>.2, .4<.6, .4>.2 -> 3/4
    mixed = spark.createDataFrame(
        [(0.9, 1), (0.4, 1), (0.6, 0), (0.2, 0)], "score double, label int")
    row = binary_auc(mixed).collect()[0]
    assert row["auc"] == 0.75 and row["n_pos"] == 2 and row["n_neg"] == 2


def test_binary_auc_matches_duckdb_rank_formula(spark):
    """Exactness on a larger corpus: AUC via DuckDB's Mann-Whitney rank
    statistic (average ranks handle ties) must equal the bucketed
    computation."""
    import duckdb
    import random

    from kafka_connector_s3_sink_spark.operators.quality import binary_auc

    rnd = random.Random(11)
    rows = [(round(rnd.uniform(0, 1), 2), rnd.randint(0, 1))
            for _ in range(500)]
    df = spark.createDataFrame(rows, "score double, label int")
    got = binary_auc(df).collect()[0]["auc"]
    con = duckdb.connect()
    import pandas as pd
    con.register("t", pd.DataFrame(rows, columns=["score", "label"]))
    want = con.execute("""
        WITH ranked AS (
            SELECT label,
                avg(CAST(rn AS DOUBLE)) OVER (PARTITION BY score) AS r
            FROM (SELECT score, label,
                  row_number() OVER (ORDER BY score) AS rn FROM t)
        ),
        agg AS (
            SELECT sum(CASE WHEN label = 1 THEN r END) AS rpos,
                sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS np,
                sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS nn
            FROM ranked
        )
        SELECT floor(((rpos - np * (np + 1) / 2.0) / (np * nn)) * 1e6 + 0.5) / 1e6
        FROM agg
    """).fetchone()[0]
    assert got == want


def test_binary_auc_evaluates_the_trained_classifier(spark):
    """Integration: the pinned classifier separates PINNED_CORPUS's labels
    far better than chance."""
    from kafka_connector_s3_sink_spark.operators import quality as q

    docs = spark.createDataFrame(q.PINNED_CORPUS, "text string, label int")
    scored = docs.select(
        q.classifier_score(F.col("text"), q.PINNED_WEIGHTS_V1).alias("score"),
        "label",
    )
    auc = q.binary_auc(scored).collect()[0]["auc"]
    assert auc > 0.9


def test_binary_auc_single_class_is_null_not_crash(spark):
    """A monitoring slice with one class present has no defined AUC: the
    guarded denominator emits auc=NULL with the class counts intact
    (ADVICE r7), instead of an undiagnosable divide-by-zero null row."""
    from kafka_connector_s3_sink_spark.operators.quality import binary_auc

    allpos = spark.createDataFrame(
        [(0.9, 1), (0.3, 1)], "score double, label int")
    row = binary_auc(allpos).collect()[0]
    assert row["auc"] is None and row["n_pos"] == 2 and row["n_neg"] == 0
    allneg = spark.createDataFrame(
        [(0.9, 0), (0.3, 0)], "score double, label int")
    row = binary_auc(allneg).collect()[0]
    assert row["auc"] is None and row["n_pos"] == 0 and row["n_neg"] == 2


def test_precision_recall_curve_hand_computed_and_sklearn_free(spark):
    """Exact P/R/F1 at every distinct threshold vs a plain-Python oracle;
    ties collapse to one row; one-class edge cases mirror binary_auc."""
    from kafka_connector_s3_sink_spark.operators.quality import (
        precision_recall_curve,
    )

    rows = [
        (0.9, 1), (0.8, 0), (0.8, 1), (0.55, 1), (0.4, 0), (0.2, 0), (0.2, 1),
    ]
    df = spark.createDataFrame(rows, ["score", "label"])
    got = {r.threshold: r for r in precision_recall_curve(df).collect()}
    # python oracle
    import collections

    agg = collections.defaultdict(lambda: [0, 0])  # t -> [n, pos]
    for s, y in rows:
        agg[s][0] += 1
        agg[s][1] += y
    all_pos = sum(y for _, y in rows)
    n_cum = tp = 0
    for t in sorted(agg, reverse=True):
        n_cum += agg[t][0]
        tp += agg[t][1]
        r = got[t]
        assert (r.n_predicted_pos, r.tp) == (n_cum, tp)
        prec, rec = tp / n_cum, tp / all_pos
        assert r.precision == pytest.approx(prec, abs=1e-6)
        assert r.recall == pytest.approx(rec, abs=1e-6)
        assert r.f1 == pytest.approx(2 * prec * rec / (prec + rec), abs=1e-6)
    assert len(got) == len(agg)  # tie at 0.8 and 0.2 collapse
    # lowest threshold keeps everything: recall 1.0
    assert got[min(got)].recall == pytest.approx(1.0)
    # no positives at all: recall NULL, precision 0, and f1 must stay NULL
    # (undefined-metric contract — 0.0 would read as "measured terrible")
    none = spark.createDataFrame([(0.5, 0), (0.1, 0)], ["score", "label"])
    r0 = precision_recall_curve(none).collect()[0]
    assert r0.recall is None and r0.precision == 0.0 and r0.f1 is None
    # defined recall but tp == 0 at the top threshold: f1 is a real 0.0
    mix = spark.createDataFrame([(0.9, 0), (0.1, 1)], ["score", "label"])
    top = precision_recall_curve(mix).collect()[0]
    assert top.recall == 0.0 and top.f1 == 0.0
