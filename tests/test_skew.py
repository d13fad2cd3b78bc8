"""Salting utilities: salted results must equal unsalted ones exactly."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import skew


def test_salted_two_phase_agg_matches_plain(spark):
    rows = [Row(k="hot", v=i * 1.0) for i in range(1000)] + [
        Row(k=f"cold{i}", v=float(i)) for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    plain = {
        (r.k): (r.s, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r.k): (r.s, r.n)
        for r in skew.salted_two_phase_agg(
            df,
            keys=["k"],
            partial_aggs=[F.sum("v").alias("_s"), F.count(F.lit(1)).alias("_n")],
            final_aggs=[F.sum("_s").alias("s"), F.sum("_n").alias("n")],
            n_salts=8,
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    large = spark.createDataFrame(
        [Row(k="hot", payload=i) for i in range(500)]
        + [Row(k="rare", payload=-1)]
    )
    small = spark.createDataFrame([Row(k="hot", dim="H"), Row(k="rare", dim="R")])
    plain = sorted(
        (r.k, r.payload, r.dim) for r in large.join(small, "k").collect()
    )
    salted = sorted(
        (r.k, r.payload, r.dim)
        for r in skew.salted_join(large, small, "k", n_salts=4).collect()
    )
    assert plain == salted
