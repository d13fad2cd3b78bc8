"""Round-10 scale + cache-hygiene contracts:

- the hot-band cap in the BATCH LSH path (``dedup.minhash_lsh_pairs``
  ``max_band_df``) — the one place the quadratic band self-join had no
  guard (``incremental_dedup`` shipped the knob first; this is its batch
  twin, threaded through the cascade and the pretraining preset);
- ``unpersist_registry`` coverage for every remaining operator that calls
  ``dedup._materialize``: ``jaccard_verify``, the cascade wrappers, and the
  ``*_against_index`` readers — a registry-supplied call must leave ZERO
  persisted RDDs behind after the caller releases the registry;
- the ``_embparams`` empty-table guard (interrupted overwrite → diagnosable
  error, not IndexError).
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import dedup, incremental


def _n_cached(spark) -> int:
    """Count of logical cache entries in the session's CacheManager —
    deterministic, unlike getPersistentRDDs (whose entries the
    ContextCleaner weak-ref GCs asynchronously between measurements)."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


BOILER = (
    "terms of service apply to all content on this site and use implies "
    "consent to the policy " * 2
)
DISTINCT = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "a stream processing engine groups records by key and writes compressed objects"),
    (102, "a stream processing engine groups records by key and writes compressed files"),
    (3, "completely unrelated text about cooking pasta with garlic and olive oil sauce"),
]
N_BOILER = 20


@pytest.fixture(scope="module")
def hot_corpus(spark):
    """A near-dup pair (2,102) + 20 byte-identical boilerplate docs — every
    band the boilerplate emits has df=20, the worst-case template page."""
    rows = DISTINCT + [(1000 + i, BOILER) for i in range(N_BOILER)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_hot_band_cap_bounds_pair_volume(hot_corpus):
    """Uncapped, the planted hot band emits C(20,2)=190 boilerplate pairs;
    capped below its df they disappear while genuinely-near non-hot pairs
    survive untouched."""
    uncapped = {
        (r["id1"], r["id2"]) for r in dedup.minhash_lsh_pairs(hot_corpus).collect()
    }
    boiler_pairs = {p for p in uncapped if p[0] >= 1000 and p[1] >= 1000}
    assert len(boiler_pairs) == N_BOILER * (N_BOILER - 1) // 2
    assert (2, 102) in uncapped

    capped = {
        (r["id1"], r["id2"])
        for r in dedup.minhash_lsh_pairs(hot_corpus, max_band_df=10).collect()
    }
    assert not any(p[0] >= 1000 and p[1] >= 1000 for p in capped)
    assert (2, 102) in capped  # its band df is 2 — far under the cap


def test_hot_band_cap_noop_when_no_band_hot(hot_corpus):
    """When no band's df exceeds the cap, capped and uncapped outputs are
    IDENTICAL — the guard costs one aggregation, never recall."""
    uncapped = {
        (r["id1"], r["id2"]) for r in dedup.minhash_lsh_pairs(hot_corpus).collect()
    }
    capped = {
        (r["id1"], r["id2"])
        for r in dedup.minhash_lsh_pairs(hot_corpus, max_band_df=N_BOILER).collect()
    }
    assert capped == uncapped


def test_cascade_threads_cap_and_cc_graph_shrinks(spark, hot_corpus):
    """dedup_cascade_artifacts forwards max_band_df: the candidate table —
    which also feeds the split-blocking candidate CC — stays bounded. The
    boilerplate clones are byte-identical, so the exact pass eats them
    either way; plant NEAR-dup boilerplate (one token varies) to exercise
    the LSH stage itself."""
    rows = DISTINCT + [
        (1000 + i, BOILER + f" variant{i}") for i in range(N_BOILER)
    ]
    near_hot = spark.createDataFrame(rows, ["doc_id", "text"])
    reg_u: list = []
    arts_u = dedup.dedup_cascade_artifacts(near_hot, unpersist_registry=reg_u)
    n_uncapped = arts_u.candidates.count()
    reg_c: list = []
    arts_c = dedup.dedup_cascade_artifacts(
        near_hot, unpersist_registry=reg_c, max_band_df=10
    )
    n_capped = arts_c.candidates.count()
    cc_ids = {
        r["doc_id"] for r in arts_c.candidate_clusters.select("doc_id").collect()
    }
    for df in reg_u + reg_c:
        df.unpersist()
    assert n_uncapped >= N_BOILER * (N_BOILER - 1) // 2
    # the suffix token only perturbs trailing shingles: most bands still
    # collide across all 20 variants and get dropped by the cap
    assert n_capped < n_uncapped
    # no boilerplate doc may reach the split-blocking graph through a
    # dropped band alone: every band the variants share has df=20 > cap,
    # so all are dropped and the CC edge set carries zero boilerplate ids
    assert not any(i >= 1000 for i in cc_ids)


def test_jaccard_verify_registry_releases_cache(spark, hot_corpus):
    """jaccard_verify persists one shingle frame; a registry-supplied call
    leaves no persisted RDDs once the caller releases the registry."""
    base = _n_cached(spark)
    reg: list = []
    cands = spark.createDataFrame([(2, 102)], ["id1", "id2"])
    out = dedup.jaccard_verify(cands, hot_corpus, unpersist_registry=reg)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["jaccard"] > 0.5
    assert len(reg) == 1
    assert _n_cached(spark) > base
    for df in reg:
        df.unpersist()
    assert _n_cached(spark) == base


def test_near_against_index_registry(spark, tmp_path_factory):
    """near_decontaminate_against_index collects its three persisted frames
    in the supplied registry; releasing them restores the session's cache
    census exactly (VERDICT r9 item 2)."""
    loc = str(tmp_path_factory.mktemp("r10_nd_idx"))
    doc1 = " ".join(f"tok{i}" for i in range(30))
    para = " ".join("changed" if i == 15 else f"tok{i}" for i in range(30))
    corpus = spark.createDataFrame([Row(doc_id=1, text=doc1)])
    incremental.build_dedup_index(corpus, "r10nd", loc, num_buckets=2)
    try:
        base = _n_cached(spark)
        reg: list = []
        res = incremental.near_decontaminate_against_index(
            spark.createDataFrame([Row(doc_id=201, text=para)]),
            "r10nd",
            jaccard_threshold=0.4,
            unpersist_registry=reg,
        )
        assert {(r["hist_id"], r["bench_id"]) for r in res.collect()} == {(1, 201)}
        # the three _materialize sites (the inner minhash_bands call runs
        # materialize=False — its single consumer is persisted by _mat,
        # one cache per logical table)
        assert len(reg) == 3
        for df in reg:
            df.unpersist()
        assert _n_cached(spark) == base
    finally:
        incremental.drop_dedup_index(spark, "r10nd")


def test_semantic_against_index_registry(spark, tmp_path_factory):
    """semantic_decontaminate_against_index: same registry contract, one
    persisted frame (the candidates; the benchmark signatures feed only the
    candidate join, which ``dedup._cosine_matches`` persists)."""
    loc = str(tmp_path_factory.mktemp("r10_sem_idx"))
    base_vec = [3.0, -2.0, 5.0, -4.0, 2.5, -3.5, 4.0, -2.0]
    corpus = spark.createDataFrame(
        [Row(doc_id=1, embedding=[2.0 * x for x in base_vec])]
    )
    incremental.build_embedding_index(corpus, "r10sem", loc, num_buckets=2, dim=8)
    try:
        n0 = _n_cached(spark)
        reg: list = []
        res = incremental.semantic_decontaminate_against_index(
            spark.createDataFrame([Row(doc_id=901, embedding=base_vec)]),
            "r10sem",
            dim=8,
            unpersist_registry=reg,
        )
        assert {(r["hist_id"], r["bench_id"]) for r in res.collect()} == {(1, 901)}
        assert len(reg) == 1
        for df in reg:
            df.unpersist()
        assert _n_cached(spark) == n0
    finally:
        incremental.drop_dedup_index(spark, "r10sem")


def test_embparams_empty_table_guard(spark):
    """An interrupted overwrite can leave <prefix>_embparams registered but
    empty — the reader must fail with a diagnosable message, not IndexError."""
    spark.createDataFrame(
        [], "dim int, n_bands int, band_planes int"
    ).write.mode("overwrite").saveAsTable("r10eg_embparams")
    try:
        with pytest.raises(ValueError, match="empty"):
            incremental._read_embparams(spark, "r10eg", None)
    finally:
        spark.sql("DROP TABLE IF EXISTS r10eg_embparams")


def test_preset_dsir_registry_covers_grams(spark):
    """The preset's DSIR stage passes res.caches to dsir_resample, so
    PretrainingResult.unpersist() releases the persisted raw-grams frame too
    (ADVICE r9 item 1): after unpersist the cache census is restored."""
    from kafka_connector_s3_sink_spark import pretraining

    docs = spark.createDataFrame(
        [
            (i, f"document number {i} about " + " ".join(f"w{i}x{j}" for j in range(12)))
            for i in range(30)
        ],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame(
        [(900 + i, f"document number {i} curated target sample") for i in range(5)],
        ["doc_id", "text"],
    )
    base = _n_cached(spark)
    res = pretraining.pretraining_pipeline(
        docs,
        config=pretraining.PretrainingConfig(quality_floor=None, dsir_top_k=10),
        target_docs=target,
    )
    assert res.packed.count() > 0
    res.unpersist()
    assert _n_cached(spark) == base
