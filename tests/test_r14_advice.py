"""r14: the low ADVICE items from the r13 review that still have a subject,
pinned.

- `assemble_packs` joins documents on the doc-identifying columns implied
  by `pack_key` (batch_id alongside id_col when both frames carry it), so
  a corpus that re-admits the same doc_id in a later epoch (index-rebuild
  replay) resolves each segment to ITS epoch's text instead of fanning out
  across every epoch's copy;
- `verify_pack_layout`'s id-col stamp check is scoped to `key_value`, so a
  destination whose epochs were written under different id_col configs can
  still verify the epoch whose own stamp matches.
"""

import pytest
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import incremental, packing
from kafka_connector_s3_sink_spark.streaming import ingest

CTX = 16


def _epoch_docs(spark, batch_id, tag, n_docs=3):
    # deliberately reuses doc_id 1..n across epochs (the replay shape)
    rows = [
        (i, batch_id, " ".join(f"{tag}{i}w{j}" for j in range(5 + 3 * i)))
        for i in range(1, n_docs + 1)
    ]
    return spark.createDataFrame(rows, ["doc_id", "batch_id", "text"])


def test_assemble_replayed_doc_id_resolves_to_its_epoch(spark):
    """Same doc_id admitted in two epochs with DIFFERENT text: the keyed
    assembly must slice each segment from its own epoch's document, and
    totals must not inflate (the doc_id-only join fans out 2x)."""
    d0 = _epoch_docs(spark, "e0", "a")
    d1 = _epoch_docs(spark, "e1", "b")
    docs = d0.unionByName(d1)
    packed = (
        packing.pack_sequences(d0, ctx_len=CTX)
        .withColumn("batch_id", F.lit("e0"))
        .unionByName(
            packing.pack_sequences(d1, ctx_len=CTX).withColumn(
                "batch_id", F.lit("e1")
            )
        )
    )
    keyed = packing.assemble_packs(
        packed, docs, pack_key=("batch_id", "pack_id")
    ).collect()
    # no token inflation: totals equal the two corpora's token counts
    per_epoch_total = {
        e: sum(
            len(r["text"].split())
            for r in docs.filter(F.col("batch_id") == e).collect()
        )
        for e in ("e0", "e1")
    }
    for e in ("e0", "e1"):
        got = sum(r["pack_tokens"] for r in keyed if r["batch_id"] == e)
        assert got == per_epoch_total[e], e
    # and every pack window matches the single-epoch assembly exactly
    for e in ("e0", "e1"):
        one = packing.assemble_packs(
            packed.filter(F.col("batch_id") == e).drop("batch_id"),
            docs.filter(F.col("batch_id") == e).drop("batch_id"),
        ).collect()
        want = {r["pack_id"]: (r["pack_tokens"], r["pack_text"]) for r in one}
        got = {
            r["pack_id"]: (r["pack_tokens"], r["pack_text"])
            for r in keyed
            if r["batch_id"] == e
        }
        assert got == want, e
    # the epoch-resolved text really is that epoch's (tag prefixes differ)
    for r in keyed:
        tag = "a" if r["batch_id"] == "e0" else "b"
        assert all(t.startswith(tag) for t in r["pack_text"].split()), r


def test_assemble_without_epoch_column_requires_unique_ids(spark):
    """Documented contract: when docs carries no pack_key column, the join
    is id_col-only and docs must be unique per id_col — the single-stream
    shape still reconstructs exactly."""
    docs = _epoch_docs(spark, "e0", "solo").drop("batch_id")
    packed = packing.pack_sequences(docs, ctx_len=CTX)
    asm = packing.assemble_packs(packed, docs).collect()
    total = sum(len(r["text"].split()) for r in docs.collect())
    assert sum(r["pack_tokens"] for r in asm) == total
    for r in asm:
        assert len(r["pack_text"].split()) == r["pack_tokens"]


PREFIX = "r14adv"


def _prose(tag, n=20):
    stops = ["the", "and", "of", "to", "is"]
    return " ".join(w for i in range(n) for w in (stops[i % 5], f"{tag}{i}"))


@pytest.fixture()
def two_epochs(spark, tmp_path):
    loc = str(tmp_path / "index")
    base = spark.createDataFrame(
        [(9999, _prose("hist", 25))], ["doc_id", "text"]
    )
    incremental.build_dedup_index(base, PREFIX, loc, num_buckets=2)
    cfg = ingest.IngestConfig(
        index_prefix=PREFIX,
        index_location=loc,
        dest_dir=str(tmp_path / "out"),
        checkpoint_location=str(tmp_path / "ckpt"),
        num_buckets=2,
        ctx_len=64,
        split_weights={"train": 1.0},
    )
    for epoch, lo in ((0, 1), (1, 20)):
        docs = spark.createDataFrame(
            [(lo + i, _prose(f"d{epoch}_{i}", 10 + i)) for i in range(1, 5)],
            ["doc_id", "text"],
        )
        ingest.process_crawl_batch(docs, epoch, cfg)
    yield cfg
    incremental.drop_dedup_index(spark, PREFIX)


def test_stamp_check_scoped_to_verified_epoch(spark, two_epochs):
    """Epochs written under different id_col stamps: verifying ONE epoch
    whose own stamp matches must pass; the unscoped full-table verify
    still fails with the named-column error."""
    cfg = two_epochs
    e0 = ingest._epoch_batch_id(0)
    e1 = ingest._epoch_batch_id(1)
    stats_path = f"{cfg.dest_dir}/pack_stats"
    rows = spark.read.parquet(stats_path).collect()
    schema = spark.read.parquet(stats_path).schema
    # simulate an id_col config change between epochs: restamp epoch 1
    restamped = [
        r.asDict() | ({"id_col": "item_id"} if r["batch_id"] == e1 else {})
        for r in rows
    ]
    spark.createDataFrame(
        [tuple(d[f.name] for f in schema.fields) for d in restamped], schema
    ).write.mode("overwrite").parquet(stats_path)
    # scoped: epoch 0's stamp matches doc_id — verification passes
    assert (
        ingest.read_ingest_packs(spark, cfg.dest_dir, batch_id=e0).count()
        > 0
    )
    # scoped to the OTHER epoch: its stamp is item_id — named error
    with pytest.raises(ValueError, match="item_id"):
        ingest.read_ingest_packs(spark, cfg.dest_dir, batch_id=e1)
    # unscoped: mixed stamps cannot verify under one id_col — named error
    with pytest.raises(ValueError, match="id_col"):
        ingest.read_ingest_packs(spark, cfg.dest_dir)
