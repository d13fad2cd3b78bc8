"""Corpus drift monitoring (`operators/drift.py`): PSI/KL/TVD between two
snapshots — identical corpora read ~0, a planted shift crosses the industry
PSI threshold, outliers clamp to edge buckets, and the whole report is one
aggregation shuffle."""

import pytest
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import drift


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, "word " * (10 + i % 20)) for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _report(base, cur):
    return {
        r["feature"]: r
        for r in drift.drift_report(
            base, cur, drift.text_drift_features()
        ).collect()
    }


def test_identical_snapshots_read_stable(docs):
    rep = _report(docs, docs)
    assert set(rep) == {"text_chars", "text_words", "digit_ratio"}
    for r in rep.values():
        assert r["psi"] == 0.0 and r["kl"] == 0.0 and r["tvd"] == 0.0
        assert r["n_base"] == r["n_cur"] == 200


def test_planted_shift_crosses_psi_threshold(docs):
    shifted = docs.select(
        "doc_id", F.concat(F.col("text"), F.col("text"), F.col("text")).alias("text")
    )
    rep = _report(docs, shifted)
    # tripled text: length/word distributions move whole buckets -> PSI in
    # the "shifted" regime (>0.25); digit density is unchanged
    assert rep["text_chars"]["psi"] > 0.25
    assert rep["text_words"]["psi"] > 0.25
    assert rep["digit_ratio"]["psi"] == 0.0
    assert rep["text_words"]["tvd"] > 0.5


def test_outliers_clamp_to_edge_buckets(spark):
    base = spark.createDataFrame(
        [(0, "x " * 50)], "doc_id long, text string"
    )
    cur = spark.createDataFrame(
        [(0, "x " * 100000)], "doc_id long, text string"  # way past hi=2000
    )
    rep = _report(base, cur)
    # the monster doc lands in the top bucket (registered, not dropped)
    assert rep["text_chars"]["psi"] > 0
    assert rep["text_chars"]["n_cur"] == 1


def test_report_is_one_corpus_shuffle(docs):
    plan = (
        drift.drift_report(docs, docs, drift.text_drift_features())
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus-sized aggregation shuffles once; everything after runs on
    # the (feature x bucket) frame. Count DISTINCT exchanges (reused
    # subtrees reprint) on corpus-scale keys: feature/bucket grouping.
    import re

    ids = set(re.findall(r"Exchange hashpartitioning\(feature", plan))
    assert len(ids) <= 2  # (feature,bucket) agg + (feature) totals agg


def test_empty_features_raise(docs):
    with pytest.raises(ValueError):
        drift.drift_report(docs, docs, [])


def test_baseline_persistence_matches_live_report(docs, tmp_path):
    """drift_vs_baseline over the persisted histogram must equal
    drift_report over the live corpora — the baseline artifact loses
    nothing the metrics need."""
    shifted = docs.select(
        "doc_id", F.concat(F.col("text"), F.col("text")).alias("text")
    )
    path = str(tmp_path / "baseline")
    feats = drift.text_drift_features()
    drift.persist_baseline(docs, path, feats)
    live = {r["feature"]: (r["psi"], r["kl"], r["tvd"], r["n_base"], r["n_cur"])
            for r in drift.drift_report(docs, shifted, feats).collect()}
    stored = {r["feature"]: (r["psi"], r["kl"], r["tvd"], r["n_base"], r["n_cur"])
              for r in drift.drift_vs_baseline(shifted, path, feats).collect()}
    assert stored == live


def test_vs_baseline_scans_only_the_batch(docs, tmp_path):
    """The comparison plan must read the tiny histogram parquet, not
    re-aggregate a baseline corpus: exactly one corpus-sized histogram
    aggregation (the batch's)."""
    path = str(tmp_path / "baseline2")
    feats = drift.text_drift_features()
    drift.persist_baseline(docs, path, feats)
    plan = (
        drift.drift_vs_baseline(docs, path, feats)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # one scan of the baseline parquet (histogram), one of the batch source
    assert plan.count("Relation") == 2


def test_empty_batch_reads_as_full_shift(docs, tmp_path):
    path = str(tmp_path / "baseline3")
    feats = drift.text_drift_features()
    drift.persist_baseline(docs, path, feats)
    empty = docs.filter(F.lit(False))
    rep = {r["feature"]: r for r in
           drift.drift_vs_baseline(empty, path, feats).collect()}
    # smoothing keeps the metrics finite; n_cur is 0
    assert all(r["n_cur"] == 0 for r in rep.values())
    assert all(r["psi"] is not None for r in rep.values())
