"""Behavioral tests for the LLM-pipeline operators: dedup variants actually
find planted duplicates, text analysis scores behave, similarity search ranks
the planted neighbor first, multimodal plumbing runs the fake decoder."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import dedup, multimodal, similarity, text


DOCS = [
    # two exact duplicates (1, 101), one near-duplicate pair (2, 102), distinct rest
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (101, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "a stream processing engine groups records by key and writes compressed objects"),
    (102, "a stream processing engine groups records by key and writes compressed files"),
    (3, "completely unrelated text about cooking pasta with garlic and olive oil sauce"),
    (4, "yet another document concerning database query optimization and join ordering"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_finds_planted_dup(docs_df):
    out = {r["keep_id"]: r["n_dups"] for r in dedup.exact_dedup(docs_df).collect()}
    assert out[1] == 2  # doc 1 and 101 collapse, min id kept
    assert out[2] == 1  # near-dup is NOT an exact dup
    assert len(out) == 5


def test_ngram_jaccard_finds_near_dup(docs_df):
    pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_dupes(docs_df, threshold=0.5).collect()
    }
    assert (1, 101) in pairs and pairs[(1, 101)] == 1.0
    assert (2, 102) in pairs and 0.5 <= pairs[(2, 102)] < 1.0
    assert not any(3 in p or 4 in p for p in pairs)


def test_minhash_lsh_finds_near_dup(docs_df):
    pairs = {(r["id1"], r["id2"]) for r in dedup.minhash_lsh_pairs(docs_df).collect()}
    assert (1, 101) in pairs  # identical doc always collides in every band
    assert (2, 102) in pairs  # high-jaccard pair collides with 4 bands of 4
    assert not any(3 in p[0:2] or 4 in p[0:2] for p in pairs)


def test_simhash_finds_exact_dup(docs_df):
    # identical docs → identical simhash (hamming 0). The (2,102) near-pair is
    # NOT asserted: a 1-word edit on a 12-token doc flips low-margin bits
    # unpredictably — 16-bit simhash is only discriminative on longer texts.
    pairs = {
        (r["id1"], r["id2"]): r["hamming"]
        for r in dedup.simhash_dupes(docs_df, max_hamming=4).collect()
    }
    assert pairs[(1, 101)] == 0


def test_embedding_cosine_dedup(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0], label=0),
        Row(vec_id=2, embedding=[2.0, 0.0, 0.0, 0.0], label=0),  # same direction
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0], label=0),  # orthogonal
        Row(vec_id=4, embedding=[1.0, 0.0, 0.0, 0.0], label=1),  # other block
    ]
    df = spark.createDataFrame(rows)
    pairs = {(r["id1"], r["id2"]): r["cosine"] for r in dedup.embedding_cosine_dupes(df).collect()}
    assert pairs == {(1, 2): 1.0}  # orthogonal excluded; cross-block not compared


@pytest.mark.parametrize("size", [2, 4])
def test_embedding_cosine_dim_mismatch_fails_loudly(spark, size):
    """``dim=`` is a contract on every vector's length: with dim=3, two
    IDENTICAL 4-element vectors must not come back as a plausible wrong
    cosine (the tail dropped from the dot but not the norm), and a
    2-element vector must not surface as a bare index error — both raise
    an error naming the function, ``dim`` and the actual size. The
    ``semantic_dupes`` delegate inherits the check."""
    vec = [1.0, 2.0, 3.0, 4.0][:size]
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=vec, label=0), Row(vec_id=2, embedding=vec, label=0)]
    )
    msg = f"embedding_cosine_dupes: dim=3 but vector [12] has size {size}"
    with pytest.raises(Exception, match=msg):
        dedup.embedding_cosine_dupes(df, threshold=0.0, dim=3).collect()
    with pytest.raises(Exception, match=msg):
        dedup.semantic_dupes(
            df.drop("label"), centroids=[(0, vec)], threshold=0.0, dim=3
        ).collect()
    # the matching dimension still scores the identical pair at 1.0
    ok = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 2.0, 3.0], label=0),
         Row(vec_id=2, embedding=[1.0, 2.0, 3.0], label=0)]
    )
    got = dedup.embedding_cosine_dupes(ok, threshold=0.0, dim=3).collect()
    assert [(r["id1"], r["id2"], r["cosine"]) for r in got] == [(1, 2, 1.0)]


def test_semantic_dupes_kmeans_blocking(spark):
    """SemDeDup-style learned blocking (r7): k-means cells replace the
    caller-supplied block column. Cosine is scale-invariant, so a scaled
    copy lands in its original's cell and MUST be found; orthogonal
    clusters separate and their cross-pairs are never compared."""
    # two tight direction clusters + scaled copies (cosine 1.0)
    rows = [Row(vec_id=i, embedding=[1.0, 0.01 * i, 0.0, 0.0]) for i in range(4)]
    rows += [Row(vec_id=10 + i, embedding=[0.0, 0.0, 1.0, 0.01 * i]) for i in range(4)]
    rows += [
        Row(vec_id=100, embedding=[2.0, 0.0, 0.0, 0.0]),     # dup of vec 0
        Row(vec_id=110, embedding=[0.0, 0.0, 3.0, 0.0]),     # dup of vec 10
    ]
    df = spark.createDataFrame(rows)
    pairs = dedup.semantic_dupes(df, n_centroids=2, threshold=0.999).collect()
    got = {(r["id1"], r["id2"]): r["cosine"] for r in pairs}
    assert got[(0, 100)] == 1.0
    assert got[(10, 110)] == 1.0
    # no cross-cluster pair can appear (blocked), and nothing below threshold
    for (a, b), c in got.items():
        assert c >= 0.999
        assert ({a >= 10 and a != 100, b >= 10 and b != 100}) in ({True}, {False})

    # a pre-fitted quantizer is reusable (e.g. the ANN index's centroids):
    # same pairs, no second fit
    cents = similarity.ivf_centroids(df, n_centroids=2)
    got2 = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in dedup.semantic_dupes(df, centroids=cents, threshold=0.999).collect()
    }
    assert got2 == got


def test_brute_force_topk_ranks_planted_neighbor(spark):
    corpus = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=[1.0, 0.1, 0.0]),
            Row(vec_id=11, embedding=[0.9, 0.1, 0.0]),   # closest to query
            Row(vec_id=12, embedding=[0.0, 1.0, 0.0]),
            Row(vec_id=13, embedding=[-1.0, 0.0, 0.1]),
        ]
    )
    queries = spark.createDataFrame([Row(query_id=10, embedding=[1.0, 0.1, 0.0])])
    out = similarity.brute_force_topk(corpus, queries, k=2).collect()
    assert [(r["nbr_id"], r["rank"]) for r in out] == [(11, 1), (12, 2)]


def test_brute_force_topk_plan_is_two_phase(spark):
    """The scored set must be reduced BEFORE the per-query exchange: a
    partition-local bounded top-k (MapInPandas) plus Spark's own
    WindowGroupLimit Partial — without them every query's full scored set
    funnels through one reducer task."""
    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(20)]
    )
    queries = spark.createDataFrame([Row(query_id=100, embedding=[1.0, 1.0])])
    df = similarity.brute_force_topk(corpus, queries, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchange_pos = plan.index("Exchange hashpartitioning(query_id")
    assert "MapInPandas" in plan[exchange_pos:], "local top-k must sit below the exchange"
    assert "WindowGroupLimit" in plan[:exchange_pos] or "Partial" in plan
    # and the two-phase result is still the exact top-k
    out = similarity.brute_force_topk(corpus, queries, k=3).collect()
    assert len(out) == 3 and [r["rank"] for r in out] == [1, 2, 3]


def test_lsh_topk_bucket_recall(spark):
    # identical vectors always land in the same bucket → top-1 is exact
    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i == j) for j in range(8)]) for i in range(8)]
    )
    queries = spark.createDataFrame([Row(query_id=100, embedding=[1.0] + [0.0] * 7)])
    out = similarity.lsh_topk(corpus, queries, k=3, n_planes=4, dim=8).collect()
    assert out, "query bucket must contain at least its identical twin"
    assert out[0]["nbr_id"] == 0 and out[0]["cosine"] == 1.0


def test_dedup_cascade_end_to_end(spark, sf_dir):
    """The composed production pipeline: exact pass removes identical clones,
    MinHash-LSH proposes candidates among survivors, exact Jaccard verifies
    them, connected components forms clusters. Planted corpus: every 10th doc
    gets an exact copy (+100k) and a tail-trimmed near-copy (+200k); the
    near-copy of the exact copy (+300k) is an exact dup of the +200k one."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = dedup.with_near_duplicates(
        dedup.with_exact_duplicates(docs), id_offset=200_000
    )
    out = {r["doc_id"]: r for r in dedup.dedup_cascade(
        corpus, jaccard_threshold=0.8
    ).collect()}

    # derive the expected exact classes from the data (word-salad texts can
    # collide: a trimmed near-copy may equal ANOTHER original verbatim, in
    # which case the exact pass merges them and the cluster forms under the
    # surviving min id)
    classes: dict = {}
    for r in corpus.select(
        "doc_id", text.fingerprint(F.col("text")).alias("fp")
    ).collect():
        classes.setdefault(r["fp"], []).append(r["doc_id"])
    reps = {min(ids) for ids in classes.values()}
    assert set(out) == reps, "cascade output must be exactly the exact-pass survivors"

    planted = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 10 == 0).collect()]
    rep_of = {d: min(ids) for ids in classes.values() for d in ids}
    for i in planted:
        assert i + 100_000 not in out  # identical clone: removed by exact pass
        near_rep = rep_of[i + 200_000]  # trimmed copy (or its verbatim twin)
        # clusters are TRANSITIVE (doc 50 == trimmed doc 0 chains {0,50,200050}),
        # so assert co-membership, not a specific id
        assert out[near_rep]["cluster_id"] == out[i]["cluster_id"], (
            f"near-dup rep {near_rep} not in {i}'s cluster"
        )
    # every cluster labels itself by its min member, which is the canonical doc
    members: dict = {}
    for d, r in out.items():
        members.setdefault(r["cluster_id"], []).append(d)
    for cid, ds in members.items():
        assert cid == min(ds)
        assert out[cid]["is_canonical"] == 1
        assert all(out[d]["is_canonical"] == 0 for d in ds if d != cid)

    # ground truth: replay the candidate+verify stages and union-find the
    # verified pairs in Python — the cascade's clusters must match EXACTLY
    # (word salad contains natural near-dups too, so no singleton shortcuts)
    survivors = corpus.join(
        dedup.exact_dedup(corpus).select(F.col("keep_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    verified = dedup.jaccard_verify(
        dedup.minhash_lsh_pairs(survivors), survivors
    ).filter(F.col("jaccard") >= 0.8)
    parent = {d: d for d in reps}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in verified.collect():
        a, b = find(r["id1"]), find(r["id2"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    want = {d: find(d) for d in reps}
    got = {d: r["cluster_id"] for d, r in out.items()}
    assert got == want, "cascade clusters diverge from union-find ground truth"


def test_ivf_persisted_index_prunes_and_matches(spark, tmp_path, sf_dir):
    """The on-disk IVF layout: write_ivf_index partitions the corpus by
    centroid_id with norms precomputed; ivf_topk_indexed then (a) reads ONLY
    the probed buckets — asserted via PartitionFilters on the scan — and
    (b) returns exactly what the in-memory ivf_topk computes from the same
    quantizer, at nprobe=1 and 2."""
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dest = str(tmp_path / "ivf_index")
    cents = similarity.write_ivf_index(corpus, dest, n_centroids=8)
    assert similarity.read_ivf_centroids(dest) == cents

    for nprobe in (1, 2):
        indexed = similarity.ivf_topk_indexed(
            spark, dest, queries, k=5, nprobe=nprobe
        )
        plan = indexed._jdf.queryExecution().executedPlan().toString()
        segs = [s[:220] for s in plan.split("PartitionFilters:")[1:]]
        assert any("centroid_id" in s for s in segs), (
            f"probe did not prune partitions:\n{plan}"
        )
        # the filter must list EXACTLY the query set's probe buckets — the
        # same ids the probe assignment computes — not a superset scan
        probe_ids = sorted(
            {
                r["centroid_id"]
                for r in similarity._probe_centroids(
                    queries.selectExpr(
                        "query_id", "cast(embedding as array<double>) as qvec"
                    ).withColumn("qnorm", similarity.l2norm(F.col("qvec"))),
                    cents,
                    nprobe,
                    id_col="query_id",
                    vec_col="qvec",
                    norm_col="qnorm",
                ).select("centroid_id").collect()
            }
        )
        # bracketed filter content only (snippets span into adjacent plan
        # lines, which also mention centroid_id as a projected column)
        filters = [
            s.split("]")[0] for s in plan.split("PartitionFilters: [")[1:]
        ]
        seg = next(s for s in filters if "centroid_id" in s)
        assert all(str(pid) in seg for pid in probe_ids), (
            f"PartitionFilters missing probe buckets {probe_ids}:\n{seg}"
        )
        if nprobe == 2:
            assert len(probe_ids) >= 2  # ≥2 distinct buckets actually probed
        inmem = similarity.ivf_topk(
            corpus, queries, k=5, nprobe=nprobe, centroids=cents
        )
        assert sorted(map(tuple, indexed.collect()), key=lambda t: (t[0], t[3])) == (
            sorted(map(tuple, inmem.collect()), key=lambda t: (t[0], t[3]))
        )


def test_ivf_index_append_replay_and_probe(spark, tmp_path, sf_dir):
    """Incremental IVF maintenance: a new batch appends under the frozen
    quantizer into its own (centroid_id, batch_id) partitions; replaying the
    same batch is a no-op (dynamic overwrite of its own dirs); probes see the
    appended vectors; the occupancy rollup traces both batches."""
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = corpus.filter(F.col("vec_id") >= 100)
    dest = str(tmp_path / "ivf_incr")
    similarity.write_ivf_index(base, dest, n_centroids=8)

    batch = corpus.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    similarity.append_to_ivf_index(batch, dest, batch_id="crawl-1")
    rows_after = spark.read.parquet(dest).count()
    assert rows_after == base.count() + batch.count()

    # replay: same batch id, bit-identical content — no growth, no change
    similarity.append_to_ivf_index(batch, dest, batch_id="crawl-1")
    assert spark.read.parquet(dest).count() == rows_after

    stats = {
        (r["centroid_id"], r["batch_id"]): r["n_vectors"]
        for r in similarity.ivf_index_stats(spark, dest).collect()
    }
    assert sum(n for (c, b), n in stats.items() if b == "crawl-1") == batch.count()
    assert sum(n for (c, b), n in stats.items() if b == "base") == base.count()

    # a probe AT an appended vector's position must return that vector as
    # its rank-1 neighbor (cosine 1.0 with its un-offset twin excluded? no —
    # the twin vec_id<100 is NOT in the index; the appended copy is)
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk_indexed(spark, dest, queries, k=1, nprobe=1)
    top = {r["query_id"]: (r["nbr_id"], r["cosine"]) for r in got.collect()}
    for qid in (0, 1, 2):
        assert top[qid][0] == qid + 100_000 and top[qid][1] == 1.0


def test_text_analysis_columns(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox, with the lazy dog in the sun.")], ["doc_id", "text"]
    )
    row = text.analyze(df).collect()[0]
    assert row["n_tokens"] == 11
    assert row["n_bpe_tokens"] == 13  # 11 words + 1 comma + 1 period
    assert row["lang_pred"] == "en"
    assert 0.0 < row["quality"] <= 1.0
    assert len(row["fingerprint"]) == 32


def test_pii_redaction_counts_and_text(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                "mail user1@example.com ssn 123-45-6789 card 1234-5678-9012-3456"
                " from 10.0.200.1 call +14155550123",
            ),
            (2, "no pii here at all"),
            # user@IP-literal: the email pattern requires an alphabetic TLD,
            # so the host half is attributed to exactly one type — IP
            (3, "root@10.20.30.40 has an ip-literal host"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.analyze(df).collect()}
    assert rows[1]["n_pii_email"] == 1
    assert rows[1]["n_pii_cc"] == 1
    assert rows[1]["n_pii_id"] == 1
    assert rows[1]["n_pii_ip"] == 1
    assert rows[1]["n_pii_phone"] == 1
    assert rows[1]["text_redacted"] == (
        "mail <EMAIL> ssn <ID> card <CC> from <IP> call <PHONE>"
    )
    assert rows[2]["text_redacted"] == "no pii here at all"
    assert all(rows[2][f"n_pii_{t}"] == 0 for t in ("email", "cc", "id", "ip", "phone"))
    assert rows[3]["n_pii_email"] == 0 and rows[3]["n_pii_ip"] == 1
    assert rows[3]["text_redacted"] == "root@<IP> has an ip-literal host"


def test_repetition_signals(spark):
    nl = chr(10)
    df = spark.createDataFrame(
        [
            # 4 non-blank lines, "dup dup" twice: line_dup_frac = 1 - 3/4;
            # 14 of 26 line chars live in duplicated lines
            (1, f"dup dup{nl}solo one{nl}dup dup{nl}last"),
            (2, "all words all words all"),  # 5 tokens, 2 distinct
            (3, "every word here differs"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.analyze(df).collect()}
    assert rows[1]["line_dup_frac"] == 0.25
    assert rows[1]["dup_line_char_frac"] == round(14 / 26, 4)
    assert rows[2]["word_rep_ratio"] == round(1 - 2 / 5, 4)
    assert rows[3]["word_rep_ratio"] == 0.0
    assert rows[3]["line_dup_frac"] == 0.0
    assert rows[3]["dup_line_char_frac"] == 0.0


def test_fingerprint_ignores_case_and_spacing(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")], ["doc_id", "text"]
    )
    fps = [r["fp"] for r in df.select(text.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def _bmp_bytes(width, height, pixel_rows):
    """Minimal 24-bit uncompressed BMP; pixel_rows is bottom-up [(b,g,r)…]."""
    import struct

    stride = (width * 3 + 3) & ~3
    body = b"".join(
        bytes(c for px in row for c in px).ljust(stride, b"\x00")
        for row in pixel_rows
    )
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 0, 0, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + dib + body


def _wav_bytes(samples, sample_rate=8000, n_channels=1):
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate,
                      sample_rate * n_channels * 2, n_channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_real_decoder_bmp_and_wav(spark):
    """The dependency-free real decoders, end to end through mapInPandas:
    a 2×2 black/white BMP and a constant-amplitude WAV produce exact
    dimensions and exactly computable features; an opaque payload still
    raises (the honest-failure contract for entropy-coded formats)."""
    import pytest as _pytest

    bmp = _bmp_bytes(2, 2, [[(0, 0, 0), (255, 255, 255)],
                            [(255, 255, 255), (0, 0, 0)]])
    wav = _wav_bytes([16384] * 800)  # constant half-scale amplitude
    media = spark.createDataFrame(
        [
            Row(media_id=1, media_type="image", payload=bytearray(bmp),
                meta=Row(n_bytes=len(bmp), content_md5="x", mime="image/bmp")),
            Row(media_id=2, media_type="audio", payload=bytearray(wav),
                meta=Row(n_bytes=len(wav), content_md5="y", mime="audio/wav")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in multimodal.extract_features(
        media, decoder=multimodal.real_decoder
    ).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (2, 2)
    # 2 black px in bin 0, 2 white px in bin 7
    assert feats[1]["feature"][0] == 0.5 and feats[1]["feature"][7] == 0.5
    assert sum(feats[1]["feature"][1:7]) == 0.0
    assert (feats[2]["width"], feats[2]["height"]) == (800, 8000)
    for seg_rms in feats[2]["feature"]:
        assert abs(seg_rms - 0.5) < 1e-4  # constant signal → RMS = amplitude

    with _pytest.raises(NotImplementedError):
        multimodal.real_decoder(b"\xff\xd8\xff jpeg-ish", "image")


def test_multimodal_fake_decode_pipeline(spark):
    docs = spark.createDataFrame([(1, "abcdefgh-payload"), (2, "xy")], ["doc_id", "text"])
    media = multimodal.media_from_documents(docs)
    feats = {r["media_id"]: r for r in multimodal.extract_features(
        media, decoder=multimodal.fake_decoder
    ).collect()}
    assert len(feats[1]["feature"]) == 8
    assert feats[1]["width"] == 16 % 640
    # short payload zero-pads deterministically
    assert feats[2]["feature"][2:] == [0.0] * 6


def test_multimodal_real_decoder_is_stubbed(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    media = multimodal.media_from_documents(docs)
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        multimodal.extract_features(media).collect()


def test_multimodal_capture_survives_corrupt_payloads(spark):
    """on_error='capture' (the crawl-scale posture): a batch mixing decodable
    and corrupt payloads yields the FULL row set — good rows decoded, corrupt
    rows surviving with null features and the error text in decode_error —
    instead of one bad blob failing the task."""
    bmp = _bmp_bytes(2, 2, [[(0, 0, 0), (255, 255, 255)],
                            [(255, 255, 255), (0, 0, 0)]])
    truncated_wav = _wav_bytes([100] * 50)[:16]  # RIFF magic, no fmt/data
    media = spark.createDataFrame(
        [
            Row(media_id=1, media_type="image", payload=bytearray(bmp),
                meta=Row(n_bytes=len(bmp), content_md5="a", mime="image/bmp")),
            Row(media_id=2, media_type="image", payload=bytearray(b"\xff\xd8 jpeg"),
                meta=Row(n_bytes=7, content_md5="b", mime="image/jpeg")),
            Row(media_id=3, media_type="audio", payload=bytearray(truncated_wav),
                meta=Row(n_bytes=16, content_md5="c", mime="audio/wav")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in multimodal.extract_features(
        media, decoder=multimodal.real_decoder, on_error="capture"
    ).collect()}
    assert len(out) == 3  # full batch survived
    assert out[1]["decode_error"] is None
    assert (out[1]["width"], out[1]["height"]) == (2, 2)
    assert "NotImplementedError" in out[2]["decode_error"]
    assert out[2]["feature"] is None and out[2]["width"] is None
    assert out[3]["decode_error"] is not None

    # the raise posture is unchanged for the same mixed batch
    with pytest.raises(Exception, match="NotImplementedError"):
        multimodal.extract_features(
            media, decoder=multimodal.real_decoder, on_error="raise"
        ).collect()


def test_frame_sample_plan(spark):
    docs = spark.createDataFrame([(1, "z" * 5000)], ["doc_id", "text"])
    media = multimodal.media_from_documents(docs)
    frames = [r["frame_idx"] for r in multimodal.frame_sample_plan(media, every_n=2).collect()]
    assert frames == [0, 2, 4]  # 5000 bytes → 5 synthetic frames, sampled every 2


def test_duplicate_spans_finds_and_merges(spark):
    """A license header planted mid-document in 3 docs is found as ONE merged
    span per doc (overlapping 4-gram hits coalesce); unique text yields no
    spans; a doc shorter than the gram width yields no grams at all."""
    header = "licensed under the apache license version two zero"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {header} gamma delta unique one"),
            (2, f"epsilon {header} zeta eta theta other words"),
            (3, f"{header} completely different tail content here now"),
            (4, "entirely unique text with no repeats at all present"),
            (5, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_grams"])
        for r in dedup.duplicate_spans(docs, span_tokens=4).collect()
    }
    # doc 1: header occupies token positions 2..9 → grams 2..6 merge to [2,10)
    assert spans[1] == (2, 10, 5)
    assert spans[2] == (1, 9, 5)
    assert spans[3] == (0, 8, 5)
    assert 4 not in spans and 5 not in spans

    cleaned = {
        r["doc_id"]: r["text_clean"]
        for r in dedup.strip_duplicate_spans(docs, span_tokens=4).collect()
    }
    assert cleaned[1] == "alpha beta gamma delta unique one"
    assert cleaned[2] == "epsilon zeta eta theta other words"
    assert cleaned[3] == "completely different tail content here now"
    assert cleaned[4] == docs.filter("doc_id=4").collect()[0]["text"]


def test_duplicate_spans_matches_duckdb(spark):
    """Span ledger parity with a DuckDB replay of the full chain (rolling
    md5 grams → repeated-hash filter → gaps-and-islands merge) over the
    real documents fixture with a planted boilerplate sentence."""
    import duckdb

    docs_path = "/root/testdata/sf0.001/documents.parquet"
    booster = " Subscribe to our newsletter for daily updates today"
    docs = spark.read.parquet(docs_path).select(
        "doc_id", F.concat(F.col("text"), F.lit(booster)).alias("text")
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
        for r in dedup.duplicate_spans(docs, span_tokens=6).collect()
    )
    want = sorted(
        (int(a), int(b), int(c), int(d))
        for a, b, c, d in duckdb.sql(
            f"""
            WITH toks AS (
                SELECT doc_id,
                    regexp_split_to_array(trim(text || '{booster}'), '\\s+') AS w
                FROM '{docs_path}'
            ),
            grams AS (
                SELECT doc_id, i AS start,
                    md5(lower(array_to_string(w[i+1:i+6], ' '))) AS h
                FROM toks, unnest(range(0, greatest(len(w) - 6, -1) + 1)) AS t(i)
                WHERE len(w) >= 6
            ),
            rep AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
            hits AS (
                SELECT doc_id, start, start + 6 AS fin FROM grams
                WHERE h IN (SELECT h FROM rep)
            ),
            brk AS (
                SELECT doc_id, start, fin,
                    CASE WHEN start > coalesce(max(fin) OVER (
                        PARTITION BY doc_id ORDER BY start, fin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) THEN 1 ELSE 0 END AS is_new
                FROM hits
            ),
            isl AS (
                SELECT doc_id, start, fin,
                    sum(is_new) OVER (
                        PARTITION BY doc_id ORDER BY start, fin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS island
                FROM brk
            )
            SELECT doc_id, min(start), max(fin), count(*)
            FROM isl GROUP BY doc_id, island
            """
        ).fetchall()
    )
    assert got == want
    assert len(got) > 0  # the planted boilerplate must actually fire


def test_image_dhash_invariant_under_resize_and_brightness(spark):
    """dHash contract: exactly stable under our own nearest-neighbor resize
    (shared index arithmetic) and under a uniform brightness shift (gradient
    signs survive); a different image is far away in hamming space."""
    import random

    rng = random.Random(7)
    # 18×16 image with strong adjacent-pixel gradients
    rows = [
        [((c * 13 + r * 7) % 240, (c * 29) % 240, (r * 31) % 240) for c in range(18)]
        for r in range(16)
    ]
    base = _bmp_bytes(18, 16, rows)
    resized = multimodal._resize_bmp(base, 36, 32)
    brighter = _bmp_bytes(
        18, 16, [[(b + 10, g + 10, r_ + 10) for (b, g, r_) in row] for row in rows]
    )
    other = _bmp_bytes(
        18, 16,
        [[(rng.randrange(256),) * 3 for _ in range(18)] for _ in range(16)],
    )
    h0 = multimodal.image_dhash(base)
    assert multimodal.image_dhash(resized) == h0
    assert multimodal.image_dhash(brighter) == h0  # (3·10)//3 shifts gray exactly
    assert bin((h0 ^ multimodal.image_dhash(other)) & ((1 << 64) - 1)).count("1") > 10


def test_audio_fingerprint_invariant_under_resample(spark):
    """Energy-envelope hash: time-normalized segmentation keeps the hash
    within a small hamming radius across a 8k→11k resample; a reversed
    envelope is far away."""
    import math

    n = 4000
    ramp = [int(16000 * (i / n) * math.sin(i * 0.7)) for i in range(n)]
    wav = _wav_bytes(ramp)
    resampled = multimodal._resample_wav(wav, 11025)
    h0 = multimodal.audio_fingerprint(wav)
    d_resample = bin(
        (h0 ^ multimodal.audio_fingerprint(resampled)) & ((1 << 64) - 1)
    ).count("1")
    assert d_resample <= 6
    d_other = bin(
        (h0 ^ multimodal.audio_fingerprint(_wav_bytes(ramp[::-1]))) & ((1 << 64) - 1)
    ).count("1")
    assert d_other > 12


def test_video_fingerprint_invariants(spark):
    """Spatio-temporal y4m hash: exactly stable under frame-rate doubling
    (time-normalized segments see identical content), within a small hamming
    radius under a 2x nearest-neighbor upscale (block means barely move),
    and far from temporally-reversed or unrelated footage."""
    import numpy as np

    w, h = 12, 9

    def frame(t):
        # spatial gradient that drifts with time: distinct per-segment grids
        r = np.arange(h).reshape(-1, 1)
        c = np.arange(w).reshape(1, -1)
        return (
            ((c * 17 + r * 11 + t * 23) % 200 + (c > t % w) * 40) % 256
        ).astype(np.uint8).tobytes()

    frames = [frame(t) for t in range(16)]
    base = _y4m_bytes(w, h, frames)
    h0 = multimodal.video_fingerprint(base)

    doubled = _y4m_bytes(w, h, [f for f in frames for _ in range(2)])
    assert multimodal.video_fingerprint(doubled) == h0

    up = [
        np.repeat(
            np.repeat(np.frombuffer(f, np.uint8).reshape(h, w), 2, 0), 2, 1
        ).tobytes()
        for f in frames
    ]
    d_resize = bin(
        (h0 ^ multimodal.video_fingerprint(_y4m_bytes(w * 2, h * 2, up)))
        & ((1 << 64) - 1)
    ).count("1")
    assert d_resize <= 6

    d_rev = bin(
        (h0 ^ multimodal.video_fingerprint(_y4m_bytes(w, h, frames[::-1])))
        & ((1 << 64) - 1)
    ).count("1")
    assert d_rev > 10
    # dispatch: perceptual_hash routes the y4m magic to this kernel
    assert multimodal.perceptual_hash(base, "video") == h0


def test_perceptual_dupes_blocked_join(spark):
    """End to end: hash via the Arrow boundary (corrupt payload survives in
    capture mode), then the pigeonhole-blocked hamming join finds the planted
    image near-dups and the audio resample pair — same-type only, no
    cartesian anywhere in the plan."""
    rows = [
        [((c * 13 + r * 7) % 240, (c * 29) % 240, (r * 31) % 240) for c in range(18)]
        for r in range(16)
    ]
    base = _bmp_bytes(18, 16, rows)
    import math

    ramp = [int(16000 * (i / 4000) * math.sin(i * 0.7)) for i in range(4000)]
    wav = _wav_bytes(ramp)
    import numpy as np

    def vframe(t):
        r_ix = np.arange(9).reshape(-1, 1)
        c_ix = np.arange(12).reshape(1, -1)
        return (
            ((c_ix * 17 + r_ix * 11 + t * 23) % 200 + (c_ix > t % 12) * 40) % 256
        ).astype(np.uint8).tobytes()

    vframes = [vframe(t) for t in range(16)]
    vid = _y4m_bytes(12, 9, vframes)
    payloads = [
        (1, "image", base),
        (2, "image", multimodal._resize_bmp(base, 36, 32)),
        (3, "image", _bmp_bytes(18, 16, [[(255 - b, 255 - g, 255 - r_) for (b, g, r_) in row] for row in rows])),
        (4, "audio", wav),
        (5, "audio", multimodal._resample_wav(wav, 11025)),
        (6, "image", b"\xff\xd8 jpeg-ish"),  # corrupt: no BMP/WAV magic
        (7, "video", vid),
        (8, "video", _y4m_bytes(12, 9, [f for f in vframes for _ in range(2)])),
        (9, "video", _y4m_bytes(12, 9, vframes[::-1])),
    ]
    media = spark.createDataFrame(
        [
            Row(media_id=i, media_type=t, payload=bytearray(p),
                meta=Row(n_bytes=len(p), content_md5="", mime=""))
            for i, t, p in payloads
        ],
        multimodal.MEDIA_SCHEMA,
    )
    hashes = multimodal.perceptual_hashes(media)
    hrows = {r["media_id"]: r for r in hashes.collect()}
    assert hrows[6]["phash"] is None and "NotImplementedError" in hrows[6]["phash_error"]
    assert all(hrows[i]["phash"] is not None for i in (1, 2, 3, 4, 5, 7, 8, 9))

    pairs_df = multimodal.perceptual_dupes(hashes, max_hamming=6)
    assert "CartesianProduct" not in pairs_df._jdf.queryExecution().executedPlan().toString()
    pairs = {(r["id1"], r["id2"]): r for r in pairs_df.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)]["hamming"] == 0
    assert (4, 5) in pairs and pairs[(4, 5)]["media_type"] == "audio"
    assert (7, 8) in pairs and pairs[(7, 8)]["media_type"] == "video"
    assert pairs[(7, 8)]["hamming"] == 0  # retimed copy, identical signature
    assert (1, 3) not in pairs and (2, 3) not in pairs  # inverted image is far
    assert (7, 9) not in pairs and (8, 9) not in pairs  # reversed video is far
    for a, b in pairs:  # never cross-type
        assert any({a, b} <= g for g in ({1, 2, 3}, {4, 5}, {7, 8, 9}))


def test_media_dedup_end_to_end(spark):
    """hashes → pairs → transitive clusters → one canonical per cluster;
    corrupt payloads survive as their own canonical rows (phash_error set,
    never silently dropped)."""
    rows = [
        [((c * 13 + r * 7) % 240, (c * 29) % 240, (r * 31) % 240) for c in range(18)]
        for r in range(16)
    ]
    base = _bmp_bytes(18, 16, rows)
    media = spark.createDataFrame(
        [
            Row(media_id=1, media_type="image", payload=bytearray(base),
                meta=Row(n_bytes=1, content_md5="", mime="")),
            Row(media_id=2, media_type="image",
                payload=bytearray(multimodal._resize_bmp(base, 36, 32)),
                meta=Row(n_bytes=1, content_md5="", mime="")),
            Row(media_id=3, media_type="image",
                payload=bytearray(multimodal._resize_bmp(base, 54, 48)),
                meta=Row(n_bytes=1, content_md5="", mime="")),
            Row(media_id=4, media_type="image", payload=bytearray(b"opaque"),
                meta=Row(n_bytes=1, content_md5="", mime="")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in multimodal.media_dedup(media, max_hamming=6).collect()}
    assert len(out) == 4
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[1]["is_canonical"] == 1
    assert out[2]["is_canonical"] == 0 and out[3]["is_canonical"] == 0
    assert out[4]["phash"] is None and out[4]["is_canonical"] == 1
    assert out[4]["phash_error"] is not None


def test_dedup_media_hashes_precomputed(spark):
    """The public clustering half over a precomputed fingerprint frame (no
    phash_error column → defaulted): non-zero hamming pairs cluster, the
    same-media-type restriction holds even at hamming 0, singletons stay
    canonical."""
    hashes = spark.createDataFrame(
        [
            (1, "image", 0b1000),       # pairs with 2 at hamming 2
            (2, "image", 0b1011),
            (3, "audio", 0b1000),       # same bits as 1, wrong type → singleton
            (4, "image", 0xFFFF),       # hamming ≥ 13 from everything → singleton
        ],
        "media_id bigint, media_type string, phash bigint",
    )
    out = {
        r["media_id"]: r
        for r in multimodal.dedup_media_hashes(hashes, max_hamming=6).collect()
    }
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == 1
    assert (out[1]["is_canonical"], out[2]["is_canonical"]) == (1, 0)
    assert out[3]["cluster_id"] == 3 and out[3]["is_canonical"] == 1
    assert out[4]["cluster_id"] == 4 and out[4]["is_canonical"] == 1
    assert all(r["phash_error"] is None for r in out.values())


def test_perceptual_dupes_exact_radius_zero(spark):
    """max_hamming=0 degenerates to exact-hash dedup: one unsliced 64-bit
    block, only identical fingerprints pair."""
    hashes = spark.createDataFrame(
        [
            Row(media_id=1, media_type="image", phash=-42, phash_error=None),
            Row(media_id=2, media_type="image", phash=-42, phash_error=None),
            Row(media_id=3, media_type="image", phash=-43, phash_error=None),
        ],
        multimodal.PHASH_SCHEMA,
    )
    pairs = multimodal.perceptual_dupes(hashes, max_hamming=0).collect()
    assert [(r["id1"], r["id2"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


def test_connected_components_transitive(spark):
    """A~B and B~C (without a direct A~C pair) must land in ONE cluster, and
    disconnected nodes stay their own canonical singleton."""
    from pyspark.sql import Row
    from kafka_connector_s3_sink_spark.operators import dedup

    nodes = spark.createDataFrame([Row(doc_id=i) for i in (1, 2, 3, 9)])
    pairs = spark.createDataFrame([Row(id1=1, id2=2), Row(id1=2, id2=3)])
    stats = {}
    out = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.connected_components(nodes, pairs, stats=stats).collect()
    }
    assert out == {1: (1, 1), 2: (1, 0), 3: (1, 0), 9: (9, 1)}
    # rounds instrumentation (probe harness pins O(diameter) at scale): this
    # 3-chain needs 2 propagation rounds + 1 fixpoint-confirm round
    assert stats == {"rounds": 3}


def test_hll_approx_within_rsd_of_exact(spark):
    """approx_distinct_users (HLL++, rsd=1%) must land within tolerance of the
    exact per-group distinct counts at sf0.01 — turns the rows-only oracle row
    into a verified approximation. 5% bound = 5 standard errors at rsd=0.01,
    comfortably tight while deterministic for a fixed input."""
    from kafka_connector_s3_sink_spark.operators import relational

    sf_dir = "/root/testdata/sf0.01"
    exact = {
        r["event_type"]: r["n_users"]
        for r in relational.distinct_users_per_topic(spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in relational.approx_distinct_users(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for etype, n in exact.items():
        assert abs(approx[etype] - n) <= max(1, 0.05 * n), (
            f"{etype}: approx {approx[etype]} vs exact {n}"
        )


def test_brute_force_topk_filters_zero_norm_vectors(spark):
    # zero-norm corpus vector -> NaN cosine; Spark's window ranks NaN as the
    # largest double while the pandas phase-1 sorts NaN last, so NaN rows must
    # be filtered before BOTH phases (and are garbage for a user anyway)
    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.0, 0.0]),  # zero norm
            Row(vec_id=2, embedding=[1.0, 0.0]),
            Row(vec_id=3, embedding=[0.5, 0.5]),
        ]
    )
    queries = spark.createDataFrame([Row(query_id=100, embedding=[1.0, 0.0])])
    out = similarity.brute_force_topk(corpus, queries, k=3).collect()
    assert [r["nbr_id"] for r in out] == [2, 3]
    assert all(r["cosine"] == r["cosine"] for r in out)  # no NaN survives


def _ivf_fixture(spark, n=120, dim=8):
    # three well-separated direction clusters so k-means has real structure
    rows = []
    for i in range(n):
        axis = i % 3
        vec = [0.1 * ((i * 7) % 5)] * dim
        vec[axis] = 10.0 + (i % 11)
        rows.append(Row(vec_id=i, embedding=vec))
    return spark.createDataFrame(rows)


def test_ivf_assignment_literal_vs_broadcast_identical(spark):
    """The broadcast-join centroid assignment (large-k plan-size path) must be
    value-identical to the literal-expression path: same sequential-fold
    cosine, same rounding, same lowest-id tiebreak."""
    corpus = _ivf_fixture(spark)
    cents = similarity.ivf_centroids(
        corpus, n_centroids=64, fit_sample_cap=None, assignment="literal"
    )
    assert len(cents) >= 3  # empty clusters may drop, structure must remain
    prepped = corpus.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"),
    ).withColumn("vnorm", similarity.l2norm(F.col("vec")))
    lit_rows = {
        r["vid"]: r["centroid_id"]
        for r in similarity._assign_centroids(
            prepped, cents, id_col="vid", assignment="literal"
        ).collect()
    }
    bc_rows = {
        r["vid"]: r["centroid_id"]
        for r in similarity._assign_centroids(
            prepped, cents, id_col="vid", assignment="broadcast"
        ).collect()
    }
    assert lit_rows == bc_rows
    # auto mode must select broadcast here: 64 centroids x 8 dims is small,
    # but at 64x64 the scalar count crosses LITERAL_ASSIGN_MAX_SCALARS
    assert 64 * 64 > similarity.LITERAL_ASSIGN_MAX_SCALARS


def test_ivf_topk_broadcast_assignment_end_to_end(spark):
    """ivf_topk through the broadcast strategy returns the same rows as the
    literal strategy (the plan differs, the values must not)."""
    corpus = _ivf_fixture(spark)
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, n_centroids=3, fit_sample_cap=64)
    lit = similarity.ivf_topk(corpus, queries, assignment="literal", **kw).collect()
    bc = similarity.ivf_topk(corpus, queries, assignment="broadcast", **kw).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, lit), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, bc), key=lambda t: (t[0], t[3])
    )
    assert len(lit) == 15


def test_ivf_nprobe_recall_is_monotone(spark):
    """Probing more buckets can only improve (or keep) each query's top-k:
    the rank-1 cosine at nprobe=2 must be >= the rank-1 cosine at nprobe=1."""
    corpus = _ivf_fixture(spark)
    queries = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=3, n_centroids=4, fit_sample_cap=64)
    p1 = {
        (r["query_id"], r["rank"]): r["cosine"]
        for r in similarity.ivf_topk(corpus, queries, nprobe=1, **kw).collect()
    }
    p2 = {
        (r["query_id"], r["rank"]): r["cosine"]
        for r in similarity.ivf_topk(corpus, queries, nprobe=2, **kw).collect()
    }
    for qk, cos2 in p2.items():
        if qk in p1 and qk[1] == 1:
            assert cos2 >= p1[qk]


def test_fit_sample_is_deterministic_and_bounded(spark):
    v = spark.range(0, 1000).select(F.col("id").alias("vid"))
    s1 = sorted(r["vid"] for r in similarity.fit_sample(v, 100).collect())
    s2 = sorted(r["vid"] for r in similarity.fit_sample(v, 100).collect())
    assert s1 == s2  # pure function of the data
    assert 40 <= len(s1) <= 200  # ~cap in expectation, tight tails
    everything = similarity.fit_sample(v, None)
    assert everything.count() == 1000


def test_decontamination_matches(spark):
    """True leaks score 1.0 (a trimmed eval doc's shingles are a subset of its
    source's), unrelated docs never reach the threshold, and the ratio is
    measured against the BENCHMARK side."""
    from pyspark.sql import Row

    from kafka_connector_s3_sink_spark.operators.dedup import (
        decontamination_matches,
    )

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=2, text="one two three four five six seven eight nine"),
            Row(doc_id=3, text="totally unrelated content about something else"),
        ]
    )
    bench = spark.createDataFrame(
        [
            # doc 1 minus its last word -> every bench shingle is in doc 1
            Row(doc_id=101, text="alpha beta gamma delta epsilon zeta eta"),
            # half-overlapping with doc 2 (shares 'three four five six' run)
            Row(doc_id=102, text="three four five six completely different tail"),
            # decoy: matches nothing
            Row(doc_id=103, text="qqq www eee rrr ttt yyy uuu iii"),
        ]
    )
    got = {
        (r["corpus_id"], r["bench_id"]): (r["n_overlap"], r["overlap_ratio"])
        for r in decontamination_matches(
            corpus, bench, min_overlap_ratio=0.3
        ).collect()
    }
    assert got[(1, 101)][1] == 1.0
    assert (1, 103) not in got and (2, 103) not in got and (3, 103) not in got
    # doc 2 leak: 2 shared 3-grams ('three four five', 'four five six') out of
    # the bench doc's 5 -> 0.4
    assert got[(2, 102)] == (2, 0.4)
    # threshold prunes: re-run at 0.5 drops the partial leak
    left = {
        (r["corpus_id"], r["bench_id"])
        for r in decontamination_matches(
            corpus, bench, min_overlap_ratio=0.5
        ).collect()
    }
    assert left == {(1, 101)}


def test_near_decontamination_matches_paraphrase(spark):
    """The MinHash route catches a PARAPHRASED leak: one mid-document word
    substitution kills only the 3 shingles crossing it, the band join still
    collides, and symmetric Jaccard lands at inter/union — while decoys never
    band with anything. Exact copies score 1.0 and a high threshold prunes
    the paraphrase but keeps the copy."""
    from pyspark.sql import Row

    from kafka_connector_s3_sink_spark.operators.dedup import (
        near_decontamination_matches,
    )

    doc1 = " ".join(f"tok{i}" for i in range(30))
    doc2 = " ".join(f"alt{i}" for i in range(30))
    para = " ".join(
        "changed" if i == 15 else f"tok{i}" for i in range(30)
    )  # shingles starting at 13,14,15 differ -> 25 of 28 shared
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text=doc1),
            Row(doc_id=2, text=doc2),
            Row(doc_id=3, text="totally unrelated content about other things"),
        ]
    )
    bench = spark.createDataFrame(
        [
            Row(doc_id=201, text=para),
            Row(doc_id=202, text=doc2),  # verbatim leak
            Row(doc_id=203, text=" ".join(f"dk{i}" for i in range(30))),
        ]
    )
    got = {
        (r["corpus_id"], r["bench_id"]): (r["n_inter"], r["jaccard"])
        for r in near_decontamination_matches(
            corpus, bench, jaccard_threshold=0.4
        ).collect()
    }
    # 25 shared / (28 + 28 - 25) union = 0.8065
    assert got[(1, 201)] == (25, 0.8065)
    assert got[(2, 202)] == (28, 1.0)
    assert not any(b == 203 for (_, b) in got)
    # symmetric-jaccard threshold prunes the paraphrase, keeps the copy
    left = {
        (r["corpus_id"], r["bench_id"])
        for r in near_decontamination_matches(
            corpus, bench, jaccard_threshold=0.9
        ).collect()
    }
    assert left == {(2, 202)}


def test_html_to_text(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from kafka_connector_s3_sink_spark.operators.text import html_to_text

    cases = [
        # scripts/styles/comments vanish wholesale, tags become spaces
        ('<head><style>p{x}</style></head><b>bold</b><!-- no -->text', "bold text"),
        # script content containing tags is not mistaken for text
        ('<script>var a = "<p>fake</p>";</script>real', "real"),
        # entity decode, &amp; last so &amp;lt; stays a literal '&lt;'
        ("a&nbsp;b &lt;x&gt; &quot;q&quot; &#39;s&#39; &amp;lt;", 'a b <x> "q" \'s\' &lt;'),
        # multi-line attributes and dotall blocks
        ('<div\nclass="x">multi\nline</div>', "multi line"),
    ]
    df = spark.createDataFrame([Row(h=h) for h, _ in cases])
    got = [r["t"] for r in df.select(html_to_text(F.col("h")).alias("t")).collect()]
    assert got == [e for _, e in cases]


def test_url_ops(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from kafka_connector_s3_sink_spark.operators.urls import (
        domain_stats,
        registrable_domain,
        strip_tracking,
        url_host,
    )

    cases = [
        # (url, host, domain, canonical)
        ("https://www.Example.COM/a?b=1",
         "www.example.com", "example.com", "https://www.Example.COM/a?b=1"),
        # userinfo + port stripped; two-part TLD keeps three labels
        ("http://user:pw@shop.example.co.uk:8080/x",
         "shop.example.co.uk", "example.co.uk",
         "http://user:pw@shop.example.co.uk:8080/x"),
        # tracking params + fragment stripped, separators tidied
        ("https://a.io/p?utm_source=x&id=7&utm_campaign=y#frag",
         "a.io", "a.io", "https://a.io/p?id=7"),
        # ONLY tracking params -> bare path, no dangling '?'
        ("https://a.io/p?utm_source=x#f", "a.io", "a.io", "https://a.io/p"),
        # relative URL: null host/domain, canonical passes through
        ("/rel/path?utm_source=x", None, None, "/rel/path"),
        # r6 anchoring: SUBSTRINGS of longer param names are content params
        ("https://a.io/p?xutm_source=1",
         "a.io", "a.io", "https://a.io/p?xutm_source=1"),
        ("https://a.io/p?id=2&begclid=7",
         "a.io", "a.io", "https://a.io/p?id=2&begclid=7"),
        # r6 anchoring: 'utm_x=' in a PATH segment is not a parameter
        ("https://a.io/utm_source=dir/p?gclid=9",
         "a.io", "a.io", "https://a.io/utm_source=dir/p"),
        # adjacent tracking params collapse cleanly
        ("https://a.io/p?utm_a=1&utm_b=2&id=3",
         "a.io", "a.io", "https://a.io/p?id=3"),
    ]
    df = spark.createDataFrame([Row(url=u) for u, *_ in cases])
    got = df.select(
        "url",
        url_host(F.col("url")).alias("h"),
        registrable_domain(F.col("url")).alias("d"),
        strip_tracking(F.col("url")).alias("c"),
    ).collect()
    by_url = {r["url"]: r for r in got}
    for u, h, d, c in cases:
        assert (by_url[u]["h"], by_url[u]["d"], by_url[u]["c"]) == (h, d, c), u

    stats = {
        r["domain"]: (r["n_pages"], r["n_hosts"], r["n_canonical"])
        for r in domain_stats(df).collect()
    }
    assert stats["a.io"] == (6, 1, 6)
    assert stats["example.co.uk"] == (1, 1, 1)
    assert stats[None] == (1, 0, 1)  # unparseable rolls up, never dropped


def _y4m_bytes(width, height, y_frames):
    """Minimal YUV4MPEG2 stream: given per-frame Y planes (bytes), U/V filled
    with 128 (neutral chroma)."""
    uv = bytes([128]) * (width * height // 4)
    out = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420\n".encode()
    for y in y_frames:
        out += b"FRAME\n" + y + uv + uv
    return out


def test_language_id_multi(spark):
    """r6 multi-language ID: argmax over per-language function-word
    profiles picks the right language for en/de/fr/es samples, word salad
    stays 'und', and the DuckDB twin reproduces the verdicts."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from kafka_connector_s3_sink_spark.operators.text import (
        LANGUAGE_PROFILES,
        language_id_multi,
    )

    cases = [
        ("the report said that the results were ready for the committee "
         "and that this was the best outcome for all involved", "en"),
        ("der hund und die katze sind nicht auf der straße denn das wetter "
         "ist ein problem für alle mit einem garten", "de"),
        ("le chat est dans la maison et les enfants jouent dans le jardin "
         "pour que la journée ne soit pas perdue", "fr"),
        ("el perro está en la casa y los niños juegan como siempre pero "
         "más tarde del mediodía en el jardín", "es"),
        ("zxq wvu ttt qqq ppp ooo nnn mmm lll kkk", "und"),
    ]
    df = spark.createDataFrame([Row(text=t) for t, _ in cases])
    got = [
        r["lang"]
        for r in df.select(language_id_multi(F.col("text")).alias("lang")).collect()
    ]
    assert got == [want for _, want in cases]

    # DuckDB twin: identical tokenization + profile ratios + argmax
    import duckdb

    profiles = sorted(LANGUAGE_PROFILES.items())
    ratio_sql = ", ".join(
        "len(list_filter(toks, t -> t IN ("
        + ", ".join(f"'{w}'" for w in words)
        + f"))) / greatest(len(toks), 1) AS r_{code}"
        for code, words in profiles
    )
    pick = "CASE "
    # same argmax: highest ratio, alphabetical tiebreak, floor at 0.06
    best = f"greatest({', '.join('r_' + c for c, _ in profiles)})"
    for code, _ in profiles:
        pick += f"WHEN r_{code} = {best} AND r_{code} >= 0.06 THEN '{code}' "
    pick += "ELSE 'und' END"
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join("(?)" for _ in cases) + ") x(text)",
        [t for t, _ in cases],
    )
    twin = [r[0] for r in con.execute(f"""
        SELECT {pick} FROM (
            SELECT {ratio_sql} FROM (
                SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                FROM t
            )
        )
    """).fetchall()]
    assert twin == got


def test_html_main_content(spark):
    """r6: structural boilerplate regions (nav/header/footer/aside/form/
    noscript) drop before text extraction; the body copy survives; the
    DuckDB twin runs the identical chain."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from kafka_connector_s3_sink_spark.operators.text import (
        _BOILERPLATE_TAGS,
        html_main_content,
        html_to_text,
    )

    html = (
        '<html><body><nav><a href="/">Home</a> | <a href="/x">X</a></nav>'
        "<header><h1>Site Title</h1></header>"
        "<p>the actual article text stays</p>"
        '<aside>related links</aside><form><input name="q"/>Search</form>'
        "<noscript>enable js</noscript>"
        "<footer>© 2024 Site — terms</footer></body></html>"
    )
    df = spark.createDataFrame([Row(h=html)])
    got = df.select(
        html_main_content(F.col("h")).alias("main"),
        html_to_text(F.col("h")).alias("full"),
    ).collect()[0]
    assert got["main"] == "the actual article text stays"
    # plain extraction keeps the boilerplate — that's the contrast
    assert "Home" in got["full"] and "terms" in got["full"]

    import duckdb

    chain = "h"
    for tag in _BOILERPLATE_TAGS:
        chain = f"regexp_replace({chain}, '<{tag}\\b.*?</{tag}\\s*>', ' ', 'gis')"
    chain = f"""trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
            regexp_replace(regexp_replace(regexp_replace({chain},
                '<script\\b.*?</script\\s*>|<style\\b.*?</style\\s*>', ' ', 'gis'),
                '<!--.*?-->', ' ', 'gs'),
                '<[^>]*>', ' ', 'gs'),
        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
    '\\s+', ' ', 'g'))"""
    twin = duckdb.connect().execute(
        f"SELECT {chain} FROM (SELECT ? AS h)", [html]
    ).fetchone()[0]
    assert twin == got["main"]


def test_topk_recall_evaluation(spark):
    """recall@k harness: IVF with nprobe=1 on a two-cluster corpus recalls
    its own cluster perfectly for an easy query; recall vs brute force is
    measured, not assumed, and the perfect-case pins 1.0."""
    import random

    from pyspark.sql import Row

    rnd = random.Random(11)
    # two tight clusters far apart
    corpus = spark.createDataFrame([
        Row(vec_id=i,
            embedding=[c + rnd.uniform(-0.05, 0.05) for c in base])
        for i, base in enumerate(
            [[5.0, 0.0, 0.0]] * 20 + [[0.0, 5.0, 0.0]] * 20
        )
    ])
    queries = spark.createDataFrame(
        [Row(query_id=100, embedding=[5.0, 0.1, 0.0]),
         Row(query_id=101, embedding=[0.1, 5.0, 0.0])]
    )
    exact = similarity.brute_force_topk(corpus, queries, k=5)
    approx = similarity.ivf_topk(corpus, queries, k=5, n_centroids=2, nprobe=1)
    rec = {r["query_id"]: r["recall"]
           for r in similarity.topk_recall(approx, exact, k=5).collect()}
    assert rec == {100: 1.0, 101: 1.0}
    # a deliberately wrong approximation scores below 1
    wrong = exact.withColumn(
        "nbr_id", (F.col("nbr_id") + 1000)
    )
    bad = similarity.topk_recall(wrong, exact, k=5).collect()
    assert all(r["recall"] == 0.0 for r in bad)


def test_bm25_topk_ranking_and_blocking(spark):
    """Lexical BM25 retrieval (r7): tf saturation + length normalization +
    idf produce the textbook ranking; docs sharing no query term never
    appear (posting-list filter, not a corpus scan)."""
    from kafka_connector_s3_sink_spark.operators import search

    docs = spark.createDataFrame([
        Row(doc_id=1, text="apple banana apple"),   # both terms, tf(apple)=2
        Row(doc_id=2, text="apple"),                # short doc, strong tf norm
        Row(doc_id=3, text="cherry durian cherry"), # no query term
        Row(doc_id=4, text="banana cherry"),
    ])
    queries = spark.createDataFrame([Row(query_id=7, query_text="Apple BANANA apple")])
    out = search.bm25_topk(docs, queries, k=10).collect()
    assert [r["nbr_id"] for r in out] == [1, 2, 4]   # d3 filtered out entirely
    assert [r["rank"] for r in out] == [1, 2, 3]
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # hand-computed Okapi score for d1 (k1=1.2, b=0.75, N=4, avgdl=2.25,
    # df(apple)=df(banana)=2): 0.8742 + 0.6100 -> 1.4842; duplicate query
    # terms count once (set semantics), hence the lowercased-dup query
    import math
    idf = math.log(1 + 2.5 / 2.5)
    d1 = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.25)) \
        + idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3 / 2.25))
    assert abs(out[0]["score"] - round(d1, 4)) < 1e-9


# ---------------------------------------------------------------- PQ (r7)


@pytest.fixture(scope="module")
def pq_corpus(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    return similarity.normalize_vectors(emb.select("vec_id", "embedding"))


def test_pq_codebooks_shape_and_determinism(pq_corpus):
    b1 = similarity.pq_codebooks(pq_corpus, m=4, k=8)
    b2 = similarity.pq_codebooks(pq_corpus, m=4, k=8)
    assert b1 == b2  # bit-deterministic fit
    assert len(b1) == 4 and all(len(book) == 8 for book in b1)
    # each codebook entry is a dim/m-length subvector with ordinal code ids
    assert [c for c, _ in b1[0]] == list(range(8))
    assert all(len(v) == 16 for _, v in b1[0])


def test_pq_dim_not_divisible_raises(pq_corpus):
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_codebooks(pq_corpus, m=7, k=4)


def test_pq_encode_literal_equals_broadcast(pq_corpus):
    books = similarity.pq_codebooks(pq_corpus, m=8, k=16)
    lit = {r["vec_id"]: r["codes"] for r in
           similarity.pq_encode(pq_corpus, books, assignment="literal").collect()}
    bc = {r["vec_id"]: r["codes"] for r in
          similarity.pq_encode(pq_corpus, books, assignment="broadcast").collect()}
    ar = {r["vec_id"]: list(r["codes"]) for r in
          similarity.pq_encode(pq_corpus, books, assignment="arrow").collect()}
    assert lit == bc == ar  # all three physical paths bit-identical
    assert len(lit) == 500
    # m codes per vector, all within the codebook
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in lit.values())


def test_pq_encode_is_zero_shuffle_literal(pq_corpus):
    books = similarity.pq_codebooks(pq_corpus, m=4, k=8)
    plan = (
        similarity.pq_encode(pq_corpus, books, assignment="literal")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # encoding never shuffles the corpus


def test_pq_rescoring_recall_monotone_in_candidates(spark, pq_corpus):
    """Candidate-set size is the recall knob: recall@10 must be monotone
    non-decreasing in k_candidates, and rescored results must be a subset
    of exact cosine ranking (score column IS the exact cosine)."""
    raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs_raw = raw.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(raw, qs_raw, k=10)
    books = similarity.pq_codebooks(pq_corpus, m=8, k=16)
    enc = similarity.pq_encode(pq_corpus, books)
    qs = pq_corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    recalls = []
    for kc in (20, 100, 500):
        res = similarity.pq_topk_rescored(
            enc, books, pq_corpus, qs, k=10, k_candidates=kc)
        recalls.append(
            similarity.topk_recall(res, exact, 10)
            .agg(F.avg("recall")).collect()[0][0])
    assert recalls[0] <= recalls[1] <= recalls[2]
    # k_candidates = |corpus| means the rescoring IS exact: perfect recall
    assert recalls[2] == 1.0


def test_pq_adc_ranks_planted_neighbor_first(spark):
    """A vector and its tiny perturbation must be ADC-nearest neighbors:
    quantization maps both to (nearly) the same codes."""
    import random

    rnd = random.Random(7)
    base = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(40)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows.append((1000, [x + 0.001 for x in base[0]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nrm = similarity.normalize_vectors(df)
    books = similarity.pq_codebooks(nrm, m=4, k=8, fit_sample_cap=None)
    enc = similarity.pq_encode(nrm, books)
    qs = nrm.filter(F.col("vec_id") == 1000).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = similarity.pq_topk(enc, books, qs, k=3).collect()
    assert top[0]["nbr_id"] == 0 and top[0]["rank"] == 1


# --------------------------------------------------- paragraph dedup (r7)


@pytest.fixture(scope="module")
def para_docs(spark):
    rows = [
        (1, "unique intro one\nSubscribe now\nbody of the first page"),
        (2, "different intro\nSubscribe now\nanother body entirely"),
        (3, "third page text\nSubscribe now\nbody of the first page"),
        (4, "Subscribe   NOW\nonly boilerplate here"),  # normalizes equal
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_paragraph_ledger_first_occurrence_wins(para_docs):
    stats = {r["keep_id"]: r for r in
             dedup.paragraph_dedup_stats(para_docs).collect()
             if r["n_dups"] > 1}
    # 'Subscribe now' appears in docs 1,2,3,4 (doc 4 via normalization);
    # 'body of the first page' in docs 1 and 3 — both owned by doc 1
    assert set(stats) == {1}
    counts = sorted(r["n_dups"] for r in
                    dedup.paragraph_dedup_stats(para_docs).collect()
                    if r["n_dups"] > 1)
    assert counts == [2, 4]


def test_remove_duplicate_paragraphs_rebuilds_in_order(para_docs):
    out = {r["doc_id"]: r["text"] for r in
           dedup.remove_duplicate_paragraphs(para_docs).collect()}
    # doc 1 keeps everything (it owns the boilerplate's first occurrence)
    assert out[1] == "unique intro one\nSubscribe now\nbody of the first page"
    # docs 2-4 lose the boilerplate, keep their own paragraphs in order
    assert out[2] == "different intro\nanother body entirely"
    assert out[3] == "third page text"
    assert out[4] == "only boilerplate here"


def test_paragraph_dedup_drops_fully_claimed_docs(spark):
    docs = spark.createDataFrame(
        [(1, "same line"), (2, "same line"), (3, "same  LINE")],
        "doc_id long, text string",
    )
    out = dedup.remove_duplicate_paragraphs(docs)
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_paragraph_stats_is_one_shuffle(para_docs):
    plan = (
        dedup.paragraph_dedup_stats(para_docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re
    assert len(set(re.findall(r"Exchange hashpartitioning\(para_hash[^\]]*plan_id=(\d+)", plan))) == 1


# --------------------------------------------------------- IVF-PQ (r7)


def test_ivfpq_recall_monotone_in_nprobe(spark):
    raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = raw.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(raw, qs, k=10)
    recalls = []
    for np_ in (1, 4, 8):
        res = similarity.ivfpq_topk(
            raw, qs, n_centroids=8, nprobe=np_, m=8, k_codes=16,
            k=10, k_candidates=200)
        recalls.append(
            similarity.topk_recall(res, exact, 10)
            .agg(F.avg("recall")).collect()[0][0])
    assert recalls[0] <= recalls[1] <= recalls[2]
    # full probing + wide candidates + exact rescoring == exact retrieval
    assert recalls[2] >= 0.9


def test_ivfpq_scores_only_probed_cells(spark):
    """The ADC join is keyed on centroid_id: with nprobe=1 of 8 cells the
    scored row count must be a fraction of |queries| x |corpus|."""
    raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = raw.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    nrm = similarity.normalize_vectors(raw.select("vec_id", "embedding"))
    cents = similarity.ivf_centroids(nrm, n_centroids=8)
    assigned = similarity.assign_corpus(nrm, cents)
    books = similarity.pq_codebooks(nrm, m=8, k=16)
    enc = similarity.pq_encode(
        assigned, books, id_col="nbr_id", vec_col="cvec_v",
        keep_cols=("centroid_id",))
    sizes = {r["centroid_id"]: r["n"] for r in
             enc.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(sizes.values()) == 500 and len(sizes) == 8
    res = similarity.ivfpq_topk(
        raw, qs, n_centroids=8, nprobe=1, m=8, k_codes=16,
        k=10, k_candidates=50, rescore=False,
        centroids=cents, codebooks=books)
    rows = res.collect()
    # every result row's neighbor must live in its query's single probed cell
    assign_map = {r["nbr_id"]: r["centroid_id"] for r in assigned.collect()}
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], set()).add(assign_map[r["nbr_id"]])
    assert all(len(cells) == 1 for cells in by_query.values())


def test_ivfpq_reuses_prefitted_models(spark):
    raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = raw.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    nrm = similarity.normalize_vectors(raw.select("vec_id", "embedding"))
    cents = similarity.ivf_centroids(nrm, n_centroids=8)
    books = similarity.pq_codebooks(nrm, m=8, k=16)
    a = similarity.ivfpq_topk(raw, qs, nprobe=2, centroids=cents,
                              codebooks=books).collect()
    b = similarity.ivfpq_topk(raw, qs, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # same fit -> same result


# ---------------------------------------------- hash embeddings (r7)


def test_hash_embeddings_deterministic_and_normalized(docs_df):
    a = {r["doc_id"]: list(r["embedding"]) for r in
         text.hash_embeddings(docs_df).collect()}
    b = {r["doc_id"]: list(r["embedding"]) for r in
         text.hash_embeddings(docs_df).collect()}
    assert a == b and len(a) == 6
    for v in a.values():
        assert len(v) == 64
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9  # unit norm
    # exact duplicates embed identically; distinct docs do not
    assert a[1] == a[101] and a[1] != a[3]


def test_hash_embeddings_cosine_tracks_token_overlap(docs_df):
    emb = text.hash_embeddings(docs_df)
    vecs = {r["doc_id"]: r["embedding"] for r in emb.collect()}

    def cos(u, v):
        return sum(x * y for x, y in zip(u, v))  # unit vectors

    near = cos(vecs[2], vecs[102])    # one word differs
    far = cos(vecs[2], vecs[3])       # unrelated topics
    assert near > 0.8 > far


def test_hash_embeddings_match_duckdb_twin(spark, docs_df):
    """The whole featurizer is SQL-expressible — DuckDB rebuilds the same
    hash/sign/sum/normalize chain and must agree to 1e-12."""
    import duckdb

    pdf = docs_df.toPandas()
    con = duckdb.connect()
    con.register("docs", pdf)
    twin = con.execute("""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(trim(lower(text)), '\\s+'),
                t -> t <> '')) AS tok
            FROM docs
        ),
        hashed AS (
            SELECT doc_id,
                CAST('0x' || substr(md5(tok), 1, 4) AS INTEGER) % 64 AS idx,
                (CAST('0x' || substr(md5(tok), 5, 1) AS INTEGER) % 2) * 2 - 1
                    AS sign
            FROM toks
        ),
        sums AS (
            SELECT doc_id, idx, CAST(sum(sign) AS DOUBLE) AS val
            FROM hashed GROUP BY doc_id, idx
        ),
        ent AS (
            SELECT doc_id,
                list(struct_pack(idx := idx, val := val)) AS entries
            FROM sums GROUP BY doc_id
        ),
        vecs AS (
            SELECT doc_id,
                list_transform(range(0, 64), i ->
                    coalesce(list_sum(list_transform(
                        list_filter(entries, e -> e.idx = i),
                        e -> e.val)), 0.0)) AS emb
            FROM ent
        )
        SELECT doc_id,
            list_transform(emb,
                x -> x / sqrt(list_dot_product(emb, emb))) AS emb
        FROM vecs
    """).fetchall()
    got = {r["doc_id"]: list(r["embedding"]) for r in
           text.hash_embeddings(docs_df).collect()}
    for doc_id, emb in twin:
        assert max(abs(a - b) for a, b in zip(got[doc_id], emb)) < 1e-12


def test_hash_embeddings_feed_the_ann_stack(docs_df):
    """End-to-end bridge: text -> hash embeddings -> brute-force cosine
    retrieval ranks the planted near-duplicate first."""
    emb = text.hash_embeddings(docs_df)
    qs = emb.filter(F.col("doc_id") == 2).select(
        F.col("doc_id").alias("query_id"), "embedding")
    top = similarity.brute_force_topk(emb, qs, k=3, id_col="doc_id")
    assert top.collect()[0]["nbr_id"] == 102


def test_ivfpq_residual_encoding_beats_raw_recall(spark):
    """faiss-style residual quantization: at the same code budget and
    candidate width, residual ADC recall must beat (or match) raw ADC
    recall — measured 0.68 -> 0.82 at k_candidates=50 on this corpus."""
    raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = raw.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(raw, qs, k=10)

    def recall(residual):
        res = similarity.ivfpq_topk(
            raw, qs, n_centroids=8, nprobe=2, m=8, k_codes=16,
            k=10, k_candidates=50, residual=residual)
        return (similarity.topk_recall(res, exact, 10)
                .agg(F.avg("recall")).collect()[0][0])

    r_raw, r_res = recall(False), recall(True)
    assert r_res >= r_raw
    assert r_res >= 0.7  # the measured residual level, with slack


def test_fit_sample_threshold_clamps_to_one(spark):
    """When count > cap*65536 the un-clamped threshold floors to 0 and the
    fit sample goes empty on a non-empty corpus (ADVICE r7). The clamp
    keeps >=1 hash bucket in play: cap=0 over any corpus still behaves as
    the 1/65536 thinning, and tiny corpora keep their full sample."""
    v = spark.range(0, 200_000).select(F.col("id").alias("vid"))
    s = similarity.fit_sample(v, 0)  # cap/count*65536 floors to 0
    # threshold clamps to 1 -> expected 200000/65536 ~ 3 rows, not 0 rows
    # by construction; determinism makes the exact count stable
    n = s.count()
    assert 0 < n < 50
    assert s.count() == n


def test_semantic_decontamination_matches(spark):
    """r8: the embedding rung of the decontam ladder — a scaled copy of a
    benchmark vector (cosine 1.0) and a lightly perturbed one are flagged;
    an orthogonal/antipodal vector is not; every returned pair satisfies
    the exact cosine threshold (the LSH bands only propose)."""
    from kafka_connector_s3_sink_spark.operators.dedup import (
        semantic_decontamination_matches,
    )

    dim = 8
    base = [3.0, -2.0, 5.0, -4.0, 2.5, -3.5, 4.0, -2.0]  # large magnitudes:
    # a small perturbation can't flip any hyperplane sign crossing
    near = [x + 0.01 for x in base]
    ortho = [-x for x in base]  # cosine -1: buckets all differ (sign flip)
    other = [5.0, 5.0, -5.0, 5.0, -5.0, -5.0, 5.0, 5.0]
    corpus = spark.createDataFrame(
        [(1, [2.0 * x for x in base]), (2, near), (3, ortho), (4, other)],
        ["vec_id", "embedding"],
    )
    bench = spark.createDataFrame([(100, base)], ["vec_id", "embedding"])
    got = {
        (r.corpus_id, r.bench_id): r.cosine
        for r in semantic_decontamination_matches(
            corpus, bench, dim=dim, cosine_threshold=0.95
        ).collect()
    }
    assert (1, 100) in got and got[(1, 100)] == pytest.approx(1.0)
    assert (2, 100) in got and got[(2, 100)] > 0.99
    assert (3, 100) not in got and (4, 100) not in got
    # invariants: proposals that fail the exact cosine are filtered
    loose = semantic_decontamination_matches(
        corpus, bench, dim=dim, cosine_threshold=0.0
    ).collect()
    for r in loose:
        assert r.cosine >= 0.0
    with pytest.raises(ValueError):
        semantic_decontamination_matches(corpus, bench, dim=dim, n_bands=0)
