"""End-to-end streaming LLM ingest (`streaming/ingest.py`): crawl batches →
intra-batch cascade → incremental classification vs the persisted index →
index append → split/pack → per-epoch partition write. Covers ≥2 micro-batches,
a checkpoint restart, and epoch-replay idempotence."""

import hashlib

import pytest
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import incremental
from kafka_connector_s3_sink_spark.streaming import ingest

# Long-running e2e/preset suite: excluded from the default pytest
# selection (pytest.ini addopts -m "not slow") so the routine gate
# finishes inside a CI window; run the full suite with
#   python -m pytest tests/ -m "slow or not slow"
pytestmark = pytest.mark.slow

PREFIX = "ingtest"


def _text(tag: str, n_words: int = 40) -> str:
    """Deterministic distinctive word salad (shingle-friendly)."""
    return " ".join(
        hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:8] for j in range(n_words)
    )


def _trim_last_word(t: str) -> str:
    return t.rsplit(" ", 1)[0]


@pytest.fixture()
def env(spark, tmp_path):
    """Index over a 10-doc base corpus + ingest config + inbox dir."""
    base_rows = [(i, _text(f"base:{i}")) for i in range(10)]
    base = spark.createDataFrame(base_rows, ["doc_id", "text"])
    loc = str(tmp_path / "index")
    incremental.build_dedup_index(base, PREFIX, loc, num_buckets=4)
    cfg = ingest.IngestConfig(
        index_prefix=PREFIX,
        index_location=loc,
        dest_dir=str(tmp_path / "out"),
        checkpoint_location=str(tmp_path / "ckpt"),
        num_buckets=4,
        ctx_len=16,
        split_weights={"train": 1.0},
    )
    yield spark, base, cfg, str(tmp_path / "inbox")
    incremental.drop_dedup_index(spark, PREFIX)


def _run_available(spark, cfg, inbox):
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(inbox)
    )
    q = ingest.start_ingest_pipeline(stream, cfg)
    q.awaitTermination()


def _drop(spark, inbox, rows):
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(inbox)


def _docs_by_epoch(spark, cfg):
    out = spark.read.parquet(f"{cfg.dest_dir}/documents")
    return {
        (r["batch_id"], r["doc_id"]): r["split"] for r in out.collect()
    }


def test_cold_start_empty_index(spark, tmp_path):
    """start_ingest_pipeline's documented cold start: an index built over an
    EMPTY frame classifies everything in the first batch as keep."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    loc = str(tmp_path / "cold-index")
    incremental.build_dedup_index(empty, "coldstart", loc, num_buckets=4)
    try:
        out = incremental.incremental_dedup(
            spark.createDataFrame([(1, _text("cold:1"))], ["doc_id", "text"]),
            "coldstart",
        ).collect()
        assert [(r["doc_id"], r["status"], r["dup_of"]) for r in out] == [
            (1, "keep", None)
        ]
    finally:
        incremental.drop_dedup_index(spark, "coldstart")


def test_documents_from_records(spark):
    """Kafka record shape → document shape: JSON values parse into typed
    columns, malformed payloads drop, a missing doc_id falls back to the
    Kafka offset."""
    recs = spark.createDataFrame(
        [
            ("t", 0, 1, None, '{"doc_id": 11, "text": "alpha beta"}', 0, None),
            ("t", 0, 2, None, '{"text": "no id doc"}', 0, None),
            ("t", 0, 3, None, "not-json", 0, None),
            ("t", 0, 4, None, '{"doc_id": 44}', 0, None),  # no text → dropped
        ],
        "topic string, partition int, offset long, key string, value string,"
        " timestamp long, headers array<struct<key:string,value:binary>>",
    )
    out = {r["doc_id"]: r["text"] for r in ingest.documents_from_records(recs).collect()}
    assert out == {11: "alpha beta", 2: "no id doc"}


def test_ingest_quality_floor(spark, env):
    """min_quality drops junk before dedup (stage 0); the metrics row traces
    the cut (n_input vs n_qualified)."""
    import dataclasses

    spark, base, cfg, inbox = env
    cfg = dataclasses.replace(cfg, min_quality=0.5)
    junk = "!!! ??? ... ;;; :::"  # pure punctuation → quality ~0
    ingest.process_crawl_batch(
        spark.createDataFrame(
            [(400, _text("fresh:400")), (401, junk)], ["doc_id", "text"]
        ),
        0,
        cfg,
    )
    out = spark.read.parquet(f"{cfg.dest_dir}/documents")
    assert {r["doc_id"] for r in out.collect()} == {400}
    m = spark.read.parquet(f"{cfg.dest_dir}/metrics").collect()[0]
    assert (m["n_input"], m["n_qualified"], m["n_keep"]) == (2, 1, 1)


def test_ingest_quality_floor_with_learned_classifier(spark, env):
    """r6: quality_weights switches stage 0 from the static heuristic to the
    trained classifier_score — junk scored low by the MODEL is cut and the
    metrics trace it, same contract as the heuristic floor."""
    import dataclasses

    from pyspark.sql import Row

    from kafka_connector_s3_sink_spark.operators.quality import (
        fit_quality_classifier,
    )

    spark, base, cfg, inbox = env
    good = (
        "the committee published its final report on the river restoration "
        "and the town council voted to adopt all of the recommendations"
    )
    junk = "!!! ??? buy now $$$ ;;; :::"
    train = spark.createDataFrame(
        [Row(text=good, label=1), Row(text=junk, label=0),
         Row(text=good + " again this year", label=1),
         Row(text="%% ## @@ || ~~", label=0)]
    )
    weights = tuple(fit_quality_classifier(train))
    cfg = dataclasses.replace(
        cfg, min_quality=0.5, quality_weights=weights
    )
    ingest.process_crawl_batch(
        spark.createDataFrame(
            [(500, good + " published today"), (501, junk)],
            ["doc_id", "text"],
        ),
        0,
        cfg,
    )
    out = spark.read.parquet(f"{cfg.dest_dir}/documents")
    assert {r["doc_id"] for r in out.collect()} == {500}
    m = spark.read.parquet(f"{cfg.dest_dir}/metrics").collect()[0]
    assert (m["n_input"], m["n_qualified"], m["n_keep"]) == (2, 1, 1)


def test_ingest_appends_keeper_embeddings_to_ivf_index(spark, env, tmp_path):
    """With embedding_col + ivf_index_dir configured, each epoch's KEEPERS
    (and only they — dups are excluded) join the ANN index under the frozen
    quantizer, in the epoch's own partition."""
    import dataclasses
    import random

    from kafka_connector_s3_sink_spark.operators import similarity

    spark, base, cfg, inbox = env
    rnd = random.Random(7)
    base_vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    ivf_dir = str(tmp_path / "ivf")
    similarity.write_ivf_index(base_vecs, ivf_dir, n_centroids=4)
    n_base_rows = spark.read.parquet(ivf_dir).count()

    cfg = dataclasses.replace(cfg, embedding_col="embedding", ivf_index_dir=ivf_dir)
    base_texts = {r["doc_id"]: r["text"] for r in base.collect()}
    batch = spark.createDataFrame(
        [
            (500, base_texts[2], [1.0] * 8),          # exact dup → NOT indexed
            (501, _text("fresh:501"), [2.0] * 8),     # keeper → indexed
        ],
        "doc_id long, text string, embedding array<double>",
    )
    ingest.process_crawl_batch(batch, 3, cfg)
    epoch = ingest._epoch_batch_id(3)
    idx = spark.read.parquet(ivf_dir)
    added = idx.filter(F.col("batch_id") == epoch)
    assert [r["vec_id"] for r in added.collect()] == [501]
    # replay: no growth
    ingest.process_crawl_batch(batch, 3, cfg)
    assert spark.read.parquet(ivf_dir).count() == n_base_rows + 1


def test_ingest_two_batches_restart_and_replay(spark, env):
    spark, base, cfg, inbox = env

    # epoch 0: one exact dup of history, one near dup of history, two fresh,
    # one intra-batch exact dup of a fresh doc (cascade keeps the min id)
    base_texts = {r["doc_id"]: r["text"] for r in base.collect()}
    _drop(
        spark,
        inbox,
        [
            (100, base_texts[3]),                       # exact dup of base 3
            (101, _trim_last_word(base_texts[7])),      # near dup of base 7
            (102, _text("fresh:102")),                  # keep
            (103, _text("fresh:103")),                  # keep
            (104, _text("fresh:102")),                  # intra-batch dup of 102
        ],
    )
    _run_available(spark, cfg, inbox)
    docs = _docs_by_epoch(spark, cfg)
    epoch0 = ingest._epoch_batch_id(0)
    assert {k for k in docs if k[0] == epoch0} == {(epoch0, 102), (epoch0, 103)}
    assert all(v == "train" for v in docs.values())

    # epoch 1 (same checkpoint, new run): a dup of an epoch-0 keeper must now
    # be caught by the INDEX (cross-batch), plus one fresh doc
    _drop(
        spark,
        inbox,
        [
            (200, _text("fresh:102")),                  # exact dup of keeper 102
            (201, _text("fresh:201")),                  # keep
        ],
    )
    _run_available(spark, cfg, inbox)
    docs = _docs_by_epoch(spark, cfg)
    epoch1 = ingest._epoch_batch_id(1)
    assert {k for k in docs if k[0] == epoch1} == {(epoch1, 201)}

    # restart (third run, same checkpoint): near dup of epoch-1 keeper + fresh
    _drop(
        spark,
        inbox,
        [
            (300, _trim_last_word(_text("fresh:201"))),  # near dup of keeper 201
            (301, _text("fresh:301")),                   # keep
        ],
    )
    _run_available(spark, cfg, inbox)
    docs = _docs_by_epoch(spark, cfg)
    epoch2 = ingest._epoch_batch_id(2)
    assert {k for k in docs if k[0] == epoch2} == {(epoch2, 301)}
    # earlier epochs' outputs untouched by later runs
    assert {k for k in docs if k[0] == epoch0} == {(epoch0, 102), (epoch0, 103)}
    assert {k for k in docs if k[0] == epoch1} == {(epoch1, 201)}

    # packs exist for every epoch with keepers; every non-final pack of an
    # epoch is exactly ctx_len tokens
    packs = spark.read.parquet(f"{cfg.dest_dir}/packs")
    by_epoch = {
        r["batch_id"]: r["n"]
        for r in packs.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(by_epoch) == {epoch0, epoch1, epoch2}

    # index holds exactly the keepers' fingerprints per epoch partition
    hashes = spark.table(f"{PREFIX}_hashes")
    per_batch = {
        r["batch_id"]: sorted(r["ids"])
        for r in hashes.groupBy("batch_id")
        .agg(F.collect_list("doc_id").alias("ids"))
        .collect()
    }
    assert per_batch[epoch0] == [102, 103]
    assert per_batch[epoch1] == [201]
    assert per_batch[epoch2] == [301]

    # per-epoch audit metrics: counts trace the funnel for every epoch
    metrics = {
        r["batch_id"]: r
        for r in spark.read.parquet(f"{cfg.dest_dir}/metrics").collect()
    }
    m0 = metrics[epoch0]
    assert (m0["n_input"], m0["n_qualified"], m0["n_canonical"]) == (5, 5, 4)
    assert (m0["n_exact_dup"], m0["n_near_dup"], m0["n_keep"]) == (1, 1, 2)
    m1 = metrics[epoch1]
    assert (m1["n_input"], m1["n_exact_dup"], m1["n_keep"]) == (2, 1, 1)
    m2 = metrics[epoch2]
    assert (m2["n_input"], m2["n_near_dup"], m2["n_keep"]) == (2, 1, 1)

    # REPLAY epoch 2 (the at-least-once case): classifications, index row
    # counts, and output objects must all be bit-identical
    n_index_rows = {
        t: spark.table(f"{PREFIX}_{t}").count()
        for t in ("hashes", "bands", "shingles")
    }
    docs_before = _docs_by_epoch(spark, cfg)
    replay = spark.createDataFrame(
        [
            (300, _trim_last_word(_text("fresh:201"))),
            (301, _text("fresh:301")),
        ],
        ["doc_id", "text"],
    )
    ingest.process_crawl_batch(replay, 2, cfg)
    assert _docs_by_epoch(spark, cfg) == docs_before
    assert {
        t: spark.table(f"{PREFIX}_{t}").count()
        for t in ("hashes", "bands", "shingles")
    } == n_index_rows


def test_crawl_to_ingest_end_to_end_via_warc(spark, env, tmp_path):
    """r6 — the full crawl story: WARC archives stream through the 'warc'
    source → warc_documents (HTML extraction, content-derived ids) → the
    ingest pipeline (quality floor off, cascade + index classify + pack).
    An archived copy of an indexed base doc classifies exact_dup and stays
    out of the corpus; fresh pages land as keepers; a second drain of the
    same store ingests nothing new (checkpointed listing-delta offsets)."""
    import dataclasses
    import gzip

    from kafka_connector_s3_sink_spark.sources import warc as warc_mod

    spark.dataSource.register(warc_mod.WarcDataSource)
    spark_, base, cfg, _ = env
    base_texts = {r["doc_id"]: r["text"] for r in base.collect()}

    crawl = tmp_path / "crawl"
    crawl.mkdir()

    def page(uri, text):
        return gzip.compress(
            warc_mod.build_record(
                "response",
                warc_mod.build_http_response_payload(
                    f"<html><body><p>{text}</p></body></html>".encode()
                ),
                target_uri=uri,
            ),
            mtime=0,
        )

    (crawl / "seg-0.warc.gz").write_bytes(
        page("https://fresh.io/a", _text("crawl:a"))
        + page("https://dup.io/b", base_texts[3])  # verbatim indexed doc
        + page("https://fresh.io/c", _text("crawl:c"))
    )

    cfg = dataclasses.replace(cfg, checkpoint_location=str(tmp_path / "ck2"))

    def drain():
        docs = warc_mod.warc_documents(
            spark.readStream.format("warc").option("path", str(crawl)).load()
        ).select("doc_id", "text")
        q = ingest.start_ingest_pipeline(docs, cfg)
        q.awaitTermination(180)

    drain()
    out = spark.read.parquet(f"{cfg.dest_dir}/documents")
    kept_texts = {r["text"] for r in out.collect()}
    assert _text("crawl:a") in kept_texts and _text("crawl:c") in kept_texts
    assert base_texts[3] not in kept_texts  # classified exact_dup vs index
    n_first = out.count()

    drain()  # same store, new stream from checkpoint: no new archives
    assert spark.read.parquet(f"{cfg.dest_dir}/documents").count() == n_first


def test_ingest_drift_monitoring_per_epoch(spark, env, tmp_path):
    """r7: drift_baseline_path scores every RAW epoch against the persisted
    baseline histogram; the per-feature PSI report lands under <dest>/drift
    with the epoch's batch_id, replay-idempotent like everything else."""
    import dataclasses

    from kafka_connector_s3_sink_spark.operators import drift

    spark, base, cfg, inbox = env
    bl = str(tmp_path / "drift_baseline")
    drift.persist_baseline(base, bl, drift.text_drift_features())
    cfg = dataclasses.replace(cfg, drift_baseline_path=bl)
    batch = spark.createDataFrame(
        [(500, _text("fresh:500")), (501, _text("fresh:501", n_words=60))],
        ["doc_id", "text"],
    )
    ingest.process_crawl_batch(batch, 0, cfg)
    rep = spark.read.parquet(f"{cfg.dest_dir}/drift")
    rows = {r["feature"]: r for r in rep.collect()}
    assert set(rows) == {"text_chars", "text_words", "digit_ratio"}
    assert all(r["batch_id"] == "epoch-" + "0" * 20 for r in rows.values())
    assert all(r["n_cur"] == 2 for r in rows.values())
    # the 60-word doc shifts the word distribution vs the 12-word baseline
    assert rows["text_words"]["psi"] > 0
    # replay: same epoch rewrites its own partition, no duplication
    ingest.process_crawl_batch(batch, 0, cfg)
    assert spark.read.parquet(f"{cfg.dest_dir}/drift").count() == 3


def test_ingest_dsir_selection_stage(spark, env, tmp_path):
    """r8: dsir_model_path + dsir_min_log_weight shed off-target documents
    right after the quality floor — scored O(batch) against the PERSISTED
    distributions (selection.persist_dsir_model), metrics trace the cut."""
    import dataclasses

    from kafka_connector_s3_sink_spark.operators import selection

    # target reads like "base" docs; raw reference adds off-target spam
    target = spark.createDataFrame(
        [(900 + i, _text(f"base:{i}")) for i in range(10)], ["doc_id", "text"]
    )
    spam = "buy cheap now " * 10
    raw_ref = target.unionByName(
        spark.createDataFrame([(800, spam)], ["doc_id", "text"])
    )
    model = str(tmp_path / "dsir_model")
    selection.persist_dsir_model(target, raw_ref, model, n_buckets=256)

    _, _, cfg, _ = env[0], env[1], env[2], env[3]
    cfg = dataclasses.replace(
        env[2], dsir_model_path=model, dsir_min_log_weight=0.0
    )
    # fresh doc: its salad grams are unseen in BOTH distributions, so each
    # contributes the small positive ln((tq+am)/(tp+am)) — comfortably above
    # the 0.0 floor; the spam doc's grams are frequent in q and absent from
    # p — strongly negative. (A base:* doc would be shed later by the dedup
    # index instead, muddying the attribution.)
    ingest.process_crawl_batch(
        spark.createDataFrame(
            [(500, _text("fresh:500")), (501, spam + "extra")],
            ["doc_id", "text"],
        ),
        0,
        cfg,
    )
    out = spark.read.parquet(f"{cfg.dest_dir}/documents")
    kept = {r["doc_id"] for r in out.collect()}
    assert 501 not in kept  # spam scored below the target threshold
    m = spark.read.parquet(f"{cfg.dest_dir}/metrics").collect()[0]
    assert m["n_input"] == 2 and m["n_qualified"] == 1

    # both-or-neither validation
    import pytest as _pytest

    bad = dataclasses.replace(env[2], dsir_model_path=model)
    with _pytest.raises(ValueError, match="set together"):
        ingest.process_crawl_batch(
            spark.createDataFrame([(1, "x")], ["doc_id", "text"]), 0, bad
        )


def test_ingest_maintains_semantic_decontam_index(spark, env, tmp_path):
    """With embedding_col + semantic_sig_dim configured, each epoch's KEEPERS
    (and only they) land in the <prefix>_embsig/_embvec tables under the
    epoch's partition; replay doesn't double-insert; a later eval suite's
    semantic decontam flags the leaked keeper O(|eval|); semantic_sig_dim
    without embedding_col fails loudly."""
    import dataclasses

    spark, base, cfg, inbox = env
    base_vec = [3.0, -2.0, 5.0, -4.0, 2.5, -3.5, 4.0, -2.0]
    far = [5.0, 5.0, -5.0, 5.0, -5.0, -5.0, 5.0, 5.0]
    cfg = dataclasses.replace(cfg, embedding_col="embedding", semantic_sig_dim=8)
    base_texts = {r["doc_id"]: r["text"] for r in base.collect()}
    batch = spark.createDataFrame(
        [
            # exact dup of a base doc → not a keeper → NOT indexed
            (600, base_texts[2], far),
            # keeper whose embedding is a scaled eval twin → indexed, flagged
            (601, _text("fresh:601"), [2.0 * x for x in base_vec]),
            # keeper, semantically clean
            (602, _text("fresh:602"), far),
        ],
        "doc_id long, text string, embedding array<double>",
    )
    ingest.process_crawl_batch(batch, 5, cfg)
    epoch = ingest._epoch_batch_id(5)
    sig_ids = {
        r["doc_id"]
        for r in spark.table(f"{PREFIX}_embsig")
        .filter(F.col("batch_id") == epoch)
        .collect()
    }
    assert sig_ids == {601, 602}
    n_vec = spark.table(f"{PREFIX}_embvec").count()
    # replay the epoch: skip-if-present, no growth
    ingest.process_crawl_batch(batch, 5, cfg)
    assert spark.table(f"{PREFIX}_embvec").count() == n_vec
    # a new eval suite lands: third-rung decontam off the index
    bench = spark.createDataFrame(
        [(901, base_vec)], "doc_id long, embedding array<double>"
    )
    flagged = {
        r["hist_id"]
        for r in incremental.semantic_decontaminate_against_index(
            bench, PREFIX, dim=8
        ).collect()
    }
    assert flagged == {601}
    # misconfiguration: loud, not silent
    bad = dataclasses.replace(cfg, embedding_col=None)
    with pytest.raises(ValueError, match="embedding_col"):
        ingest.process_crawl_batch(batch, 6, bad)


def test_ingest_time_benchmark_decontamination(spark, env, tmp_path):
    """benchmark_path / benchmark_embeddings_path shed eval-suite leaks at
    INGEST time — an exact-containment leak, a paraphrase (near) leak, and
    a shares-no-ngrams semantic leak never reach the output, the index, or
    the packs; clean docs flow through; embeddings path without
    embedding_col fails loudly."""
    import dataclasses

    spark, base, cfg, inbox = env
    eval_text = _text("eval:1")
    near_text = "paraphrased " + eval_text.split(" ", 1)[1]
    base_vec = [3.0, -2.0, 5.0, -4.0, 2.5, -3.5, 4.0, -2.0]
    far = [5.0, 5.0, -5.0, 5.0, -5.0, -5.0, 5.0, 5.0]
    bench_dir = str(tmp_path / "bench")
    spark.createDataFrame(
        [(901, eval_text)], ["doc_id", "text"]
    ).write.parquet(bench_dir)
    bench_emb_dir = str(tmp_path / "bench_emb")
    spark.createDataFrame(
        [(901, base_vec)], "doc_id long, embedding array<double>"
    ).write.parquet(bench_emb_dir)
    cfg = dataclasses.replace(
        cfg,
        embedding_col="embedding",
        benchmark_path=bench_dir,
        benchmark_embeddings_path=bench_emb_dir,
        benchmark_embedding_dim=8,
    )
    batch = spark.createDataFrame(
        [
            (700, _trim_last_word(eval_text), far),       # exact containment
            (701, near_text, far),                        # near (banded) leak
            (702, _text("fresh:702"), [2.0 * x for x in base_vec]),  # semantic
            (703, _text("fresh:703"), far),               # clean -> kept
        ],
        "doc_id long, text string, embedding array<double>",
    )
    ingest.process_crawl_batch(batch, 9, cfg)
    epoch = ingest._epoch_batch_id(9)
    out = spark.read.parquet(f"{cfg.dest_dir}/documents").filter(
        F.col("batch_id") == epoch
    )
    assert {r["doc_id"] for r in out.collect()} == {703}
    # the leaks never reached the fingerprint index either
    idx_ids = {
        r["doc_id"]
        for r in spark.table(f"{PREFIX}_hashes")
        .filter(F.col("batch_id") == epoch)
        .collect()
    }
    assert idx_ids == {703}
    # loud misconfiguration
    bad = dataclasses.replace(cfg, embedding_col=None)
    with pytest.raises(ValueError, match="embedding_col"):
        ingest.process_crawl_batch(batch, 10, bad)
