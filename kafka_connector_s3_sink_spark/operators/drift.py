"""Corpus drift monitoring — distribution-shift metrics between two corpus
snapshots (baseline vs candidate batch).

A 100 TB training-data pipeline re-ingests continuously; the question "did
this crawl batch change the corpus?" has to be answered BEFORE the batch is
mixed in. The standard monitoring metrics over a bucketed feature
histogram:

- **PSI** (population stability index, Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ)) — the
  industry threshold convention: <0.1 stable, 0.1–0.25 drifting, >0.25
  shifted;
- **KL divergence** KL(current ‖ baseline) = Σ pᵢ·ln(pᵢ/qᵢ);
- **total variation** ½·Σ |pᵢ−qᵢ|.

Plan shape: ONE aggregation shuffle at (feature × bucket) grain. Both
snapshots are tagged and unioned, every row explodes to its m feature
buckets (a row-local array — no join), and the count aggregation map-side
combines down to |features|·|buckets|·2 rows no matter the corpus size;
the metric arithmetic runs on that tiny frame. Nothing driver-side,
nothing corpus-sized shuffles.

Determinism: equal-width buckets with CONSTANT bounds (no data-dependent
quantiles), Laplace smoothing (cᵢ+α)/(N+α·B) so empty buckets never divide
by zero, and every metric floor-rounded to 4 decimals — the DuckDB oracle
replays the identical formula.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.functions.numeric import stable_round


class DriftFeature(NamedTuple):
    """One monitored feature: a name, the expression computing it per row,
    and CONSTANT histogram bounds (values outside clamp to the edge
    buckets, so outliers register as edge mass instead of vanishing)."""

    name: str
    expr: Column
    lo: float
    hi: float


def bucket_index(col: Column, lo: float, hi: float, n_buckets: int) -> Column:
    """Equal-width bucket id in [0, n_buckets), clamped at both edges."""
    width = (hi - lo) / n_buckets
    idx = F.floor((col - F.lit(lo)) / F.lit(width)).cast("int")
    return F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), idx))


def drift_report(
    baseline: DataFrame,
    current: DataFrame,
    features: Sequence[DriftFeature],
    n_buckets: int = 10,
    alpha: float = 0.5,
) -> DataFrame:
    """(feature, n_base, n_cur, psi, kl, tvd) — one row per monitored
    feature. See module docstring for the plan shape and metric
    definitions; ``alpha`` is the Laplace smoothing pseudo-count."""
    if not features:
        raise ValueError("features must be non-empty")
    buckets = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(f.name).alias("feature"),
                    bucket_index(f.expr, f.lo, f.hi, n_buckets).alias("bucket"),
                )
                for f in features
            ]
        )
    ).alias("fb")
    tagged = baseline.select(F.lit("base").alias("side"), buckets).unionByName(
        current.select(F.lit("cur").alias("side"), buckets)
    )
    counts = tagged.select(
        "side", F.col("fb.feature").alias("feature"), F.col("fb.bucket").alias("bucket")
    ).groupBy("feature", "bucket").agg(
        F.sum(F.when(F.col("side") == "base", 1).otherwise(0)).alias("c_base"),
        F.sum(F.when(F.col("side") == "cur", 1).otherwise(0)).alias("c_cur"),
    )
    # totals per feature: a second aggregation over the F·B-row frame —
    # O(features) rows, nowhere near data scale
    totals = counts.groupBy("feature").agg(
        F.sum("c_base").alias("n_base"), F.sum("c_cur").alias("n_cur")
    )
    smooth_denom = F.lit(float(alpha * n_buckets))
    joined = counts.join(totals, "feature").select(
        "feature",
        "n_base",
        "n_cur",
        ((F.col("c_base") + F.lit(float(alpha))) / (F.col("n_base") + smooth_denom)).alias("q"),
        ((F.col("c_cur") + F.lit(float(alpha))) / (F.col("n_cur") + smooth_denom)).alias("p"),
    )
    lr = F.log(F.col("p") / F.col("q"))
    return (
        joined.groupBy("feature", "n_base", "n_cur")
        .agg(
            stable_round(F.sum((F.col("p") - F.col("q")) * lr), 4).alias("psi"),
            stable_round(F.sum(F.col("p") * lr), 4).alias("kl"),
            stable_round(F.sum(F.abs(F.col("p") - F.col("q"))) / 2, 4).alias("tvd"),
        )
        .orderBy("feature")
    )


# (name, lo, hi) for the stock text features — plain data, importable
# without an active SparkContext (the DuckDB oracle interpolates the bounds
# into SQL; building Column objects there would needlessly require a JVM).
TEXT_DRIFT_FEATURE_SPECS: tuple[tuple[str, float, float], ...] = (
    ("text_chars", 0.0, 2000.0),
    ("text_words", 0.0, 400.0),
    ("digit_ratio", 0.0, 0.2),
)


def text_drift_features() -> list[DriftFeature]:
    """The stock text-corpus monitoring features over a ``text`` column:
    raw length, whitespace word count, and digit density — the cheap
    signals that move first when a crawl source changes shape. All JVM
    expressions, mirrored 1:1 by the oracle SQL; bounds come from
    TEXT_DRIFT_FEATURE_SPECS so Spark and oracle stay in sync."""
    text = F.col("text")
    n_chars = F.length(text)
    bounds = {name: (lo, hi) for name, lo, hi in TEXT_DRIFT_FEATURE_SPECS}
    exprs = {
        "text_chars": n_chars.cast("double"),
        "text_words": F.size(F.split(F.trim(text), r"\s+")).cast("double"),
        "digit_ratio": F.length(F.regexp_replace(text, r"[^0-9]", ""))
        / F.greatest(n_chars, F.lit(1)),
    }
    return [
        DriftFeature(name, exprs[name], *bounds[name])
        for name, _, _ in TEXT_DRIFT_FEATURE_SPECS
    ]


def feature_histogram(
    df: DataFrame,
    features: Sequence[DriftFeature],
    n_buckets: int = 10,
) -> DataFrame:
    """(feature, bucket, n) histogram — the persistable sufficient
    statistic for drift checks. Same one-shuffle shape as
    ``drift_report``'s counting stage."""
    buckets = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(f.name).alias("feature"),
                    bucket_index(f.expr, f.lo, f.hi, n_buckets).alias("bucket"),
                )
                for f in features
            ]
        )
    ).alias("fb")
    return (
        df.select(buckets)
        .select(F.col("fb.feature").alias("feature"), F.col("fb.bucket").alias("bucket"))
        .groupBy("feature", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def persist_baseline(
    df: DataFrame,
    path: str,
    features: Sequence[DriftFeature],
    n_buckets: int = 10,
) -> None:
    """Write the baseline histogram (a |features|·|buckets|-row parquet —
    METADATA-sized, not corpus-sized). The production drift loop scans the
    reference corpus exactly once, ever; every later batch compares
    against this artifact."""
    feature_histogram(df, features, n_buckets).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def drift_vs_baseline(
    batch: DataFrame,
    baseline_path: str,
    features: Sequence[DriftFeature],
    n_buckets: int = 10,
    alpha: float = 0.5,
) -> DataFrame:
    """PSI/KL/TVD of ``batch`` against a persisted baseline histogram:
    one aggregation over the BATCH only — the baseline corpus is never
    rescanned. Same metric arithmetic as ``drift_report`` (pinned equal by
    pytest), so thresholds transfer. This is the per-epoch monitoring
    shape: under ``foreachBatch``, call with the micro-batch and alert on
    psi > 0.25."""
    spark = batch.sparkSession
    base = spark.read.parquet(baseline_path).select(
        "feature", "bucket", F.col("n").alias("c_base")
    )
    cur = feature_histogram(batch, features, n_buckets).select(
        "feature", "bucket", F.col("n").alias("c_cur")
    )
    counts = base.join(cur, ["feature", "bucket"], "full").select(
        "feature",
        "bucket",
        F.coalesce(F.col("c_base"), F.lit(0)).alias("c_base"),
        F.coalesce(F.col("c_cur"), F.lit(0)).alias("c_cur"),
    )
    totals = counts.groupBy("feature").agg(
        F.sum("c_base").alias("n_base"), F.sum("c_cur").alias("n_cur")
    )
    smooth_denom = F.lit(float(alpha * n_buckets))
    joined = counts.join(totals, "feature").select(
        "feature",
        "n_base",
        "n_cur",
        ((F.col("c_base") + F.lit(float(alpha))) / (F.col("n_base") + smooth_denom)).alias("q"),
        ((F.col("c_cur") + F.lit(float(alpha))) / (F.col("n_cur") + smooth_denom)).alias("p"),
    )
    lr = F.log(F.col("p") / F.col("q"))
    return (
        joined.groupBy("feature", "n_base", "n_cur")
        .agg(
            stable_round(F.sum((F.col("p") - F.col("q")) * lr), 4).alias("psi"),
            stable_round(F.sum(F.col("p") * lr), 4).alias("kl"),
            stable_round(F.sum(F.abs(F.col("p") - F.col("q"))) / 2, 4).alias("tvd"),
        )
        .orderBy("feature")
    )
