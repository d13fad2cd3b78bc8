"""Serving-order plan (operators.serving): the per-epoch deterministic
schedule a trainer reads a packed corpus in.

Pinned properties:
- global_step is a bijection onto [0, n_packs) every epoch;
- shard assignment is epoch-stable, visit order is not (fresh permutation
  per epoch, reproducible across runs).
"""

import pytest

from kafka_connector_s3_sink_spark.operators import packing, serving

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def layout(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return packing.pack_sequences(docs, ctx_len=512).cache()


@pytest.fixture(scope="module")
def packs(layout):
    return serving.packs_of_layout(layout).cache()


def test_global_step_is_a_bijection_per_epoch(packs):
    n = packs.count()
    for epoch in (0, 1):
        plan = serving.serving_order(packs, n_shards=8, epoch=epoch)
        steps = [r[0] for r in plan.select("global_step").collect()]
        assert sorted(steps) == list(range(n))


def test_shards_stable_epochs_permute(packs):
    p0 = serving.serving_order(packs, n_shards=8, epoch=0)
    p1 = serving.serving_order(packs, n_shards=8, epoch=1)
    a = {r["pack_id"]: (r["shard_id"], r["global_step"]) for r in p0.collect()}
    b = {r["pack_id"]: (r["shard_id"], r["global_step"]) for r in p1.collect()}
    assert a.keys() == b.keys()
    # physical shard never moves between epochs
    assert all(a[k][0] == b[k][0] for k in a)
    # but the visit order is a different permutation
    moved = sum(1 for k in a if a[k][1] != b[k][1])
    assert moved > len(a) * 0.9
    # and rerunning epoch 0 reproduces it exactly (no RNG state)
    p0b = serving.serving_order(packs, n_shards=8, epoch=0)
    assert {
        r["pack_id"]: (r["shard_id"], r["global_step"]) for r in p0b.collect()
    } == a
