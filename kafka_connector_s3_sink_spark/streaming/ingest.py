"""Streaming LLM-data ingest: the full dedup/pack/split layer wired into one
``foreachBatch`` pipeline, the production shape the batch operators were built
for. Each micro-batch of crawled documents runs:

0. **Quality floor** (optional, ``min_quality``): drop documents below the
   heuristic ``text.quality_score`` — a narrow map stage ahead of every
   shuffle. Per-epoch audit counts land under ``<dest>/metrics``. An
   optional DSIR stage follows (``dsir_model_path`` +
   ``dsir_min_log_weight``): the batch scores O(batch) against the
   persisted target/raw distributions (``selection.persist_dsir_model``)
   and only target-like documents proceed. An optional ingest-time
   benchmark decontamination stage follows THAT (``benchmark_path`` /
   ``benchmark_embeddings_path``): docs leaking into the frozen eval
   suite — exact containment, banded near-dup, or (with embeddings)
   semantic cosine — are shed before any dedup work or index append.
1. **Intra-batch cascade** (``dedup.dedup_cascade``): exact pass → LSH
   candidates → Jaccard verify → connected components; only cluster
   canonicals survive to the next stage.
2. **Incremental classification vs the persisted index**
   (``incremental.incremental_dedup``): cascade survivors are checked against
   everything PREVIOUS batches accepted — bucket-key joins, work scales with
   |batch|, never |history|. The epoch's own index partition is excluded
   (``exclude_batch_id``), see Idempotence below.
3. **Index append** (``incremental.append_to_index``): the keepers'
   fingerprints join the index under this epoch's ``batch_id`` partition
   (skip-if-present → replay-safe). When the stream carries embeddings and
   an IVF index dir is configured, the keepers' vectors also join the ANN
   index (``similarity.append_to_ivf_index``, frozen quantizer, dynamic
   overwrite of the epoch's own partitions).
4. **Split + pack** (``sampling.hash_split`` / ``packing.pack_sequences``):
   keepers get their leakage-stable train/val/test label and their segment
   layout in fixed-``ctx_len`` training packs (pack ids are per-batch).
   An optional PII redaction (``redact_pii``) runs just before this —
   after the index appends (raw-text fingerprints keep future duplicate
   classification stable) and before anything trainer-facing is written.
5. **Sink write**: keepers (with split) and the pack plan land under
   ``<dest>/batch_id=<epoch>/`` via dynamic partition overwrite — a retried
   epoch REPLACES its own output objects and touches nothing else.

The micro-batch boundary IS the consistency boundary, exactly the
reference's flush cycle (`S3SinkTask.java:121-144`: flush → write objects →
commit offsets): Spark commits the epoch to the checkpoint only after
``foreachBatch`` returns, so every stage above either completed for a batch
or the whole batch re-runs.

Idempotence of the re-run (at-least-once delivery, replayed epoch):
- the cascade is deterministic (content-derived hashes, no ``rand()``);
- classification excludes the epoch's own ``batch_id`` partition from the
  index reads, so fingerprints appended by a half-finished first attempt
  don't make the replay classify keepers as duplicates of themselves;
- ``append_to_index`` skips tables already holding the epoch's partition;
- the sink overwrite replaces the epoch's own partition directory.
Together: re-running any prefix of the cycle converges to the same index,
the same classifications, and the same output objects.

Parity with ``pretraining.pretraining_pipeline`` (the batch flagship):
on a shared corpus + knobs the two ladders admit the SAME doc-id set
(pinned by ``tests/test_r11_parity.py``), with ONE documented ordering
divergence: this path decontaminates BEFORE the cascade (eval content
must never reach the index or any dedup work), so when a benchmark leak
is also a near-dup cluster's canonical, the clean near-dup survives as
the re-canonicalized keeper — precise, only actual leaks die. The preset
decontaminates AFTER dedup (its decontam joins then scan the smaller
deduped corpus), so the same edge sheds the whole cluster — conservative,
near-dups of leaks die too. Both pinned; neither may change silently.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import dedup, incremental, packing, sampling
from kafka_connector_s3_sink_spark.operators.text import quality_score


@dataclass(frozen=True)
class IngestConfig:
    """Knobs of the streaming ingest pipeline (operator params are the batch
    operators' own defaults unless overridden here).

    ``min_quality`` (optional) drops documents below the heuristic
    ``text.quality_score`` BEFORE any dedup work — a narrow map stage, the
    cheapest place to shed junk. ``write_metrics`` emits one audit row per
    epoch under ``<dest>/metrics`` (same idempotent per-epoch overwrite as
    the data outputs)."""

    index_prefix: str
    index_location: str
    dest_dir: str
    checkpoint_location: str
    database: Optional[str] = None
    num_buckets: int = 8
    jaccard_threshold: float = 0.8
    ctx_len: int = 512
    split_weights: Mapping[str, float] = field(
        default_factory=lambda: {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    id_col: str = "doc_id"
    text_col: str = "text"
    # tokenizer-true packing, parity with PretrainingConfig.bpe_merges
    # (r12): a frozen BPE merge list (tokenizer.fit_bpe output, as a tuple
    # of pairs — the config is frozen/hashable) switches pack budgets from
    # the whitespace heuristic to real BPE token counts, so the two
    # trainer-facing ladders produce the SAME pack geometry on a shared
    # corpus (pinned by tests/test_r11_parity.py); per_doc_overhead models
    # framing tokens (EOS etc.), also mirrored from the preset
    bpe_merges: Optional[tuple] = None
    # the frozen CLOSED vocabulary (tokenizer.bpe_vocab_ids output, as a
    # tuple of strings) — the id half of the tokenizer (r15, VERDICT item
    # 1). When set (requires bpe_merges), it is persisted beside the
    # merges under <dest>/tokenizer/vocab.json, so integer-id windows are
    # reproducible from the corpus artifacts alone: the char tier of
    # bpe_vocab_ids depends on the FIT-TIME word table, which is not a
    # destination artifact — without persisting the derived vocab, a
    # trainer wanting pack_ids would need out-of-band knowledge, exactly
    # the property the r14 self-containment work set out to kill.
    bpe_vocab: Optional[tuple] = None
    per_doc_overhead: int = 0
    # trainer-handoff contract parity with pretraining.write_packed_corpus
    # (r12): the epoch's packs are hash-repartitioned on pack_id into
    # pack_shards files and sorted (pack_id, pack_pos) within them — one
    # pack's segments land in ONE file, so a loader streams each context
    # window without a shuffle; a per-epoch stats row (recomputed from the
    # WRITTEN files) lands under <dest>/pack_stats for read_ingest_packs'
    # verifying startup checks. Size pack_shards for the per-EPOCH pack
    # count (batches are small by definition; the default keeps local
    # runs honest).
    pack_shards: int = 32
    min_quality: Optional[float] = None
    # alternative to the static heuristic: learned logistic weights from
    # operators.quality.fit_quality_classifier — when set, the floor compares
    # min_quality against classifier_score (still a pure Column chain)
    quality_weights: Optional[tuple] = None
    write_metrics: bool = True
    # hot-band guard for the history classification (incremental_dedup's
    # max_band_df) AND the intra-batch cascade: bounds any band's join
    # fan-out on boilerplate-heavy crawls. Probe-backed sizing: ~64 — see
    # PretrainingConfig.max_band_df / SCALING.md r11 section.
    max_band_df: Optional[int] = None
    # redact PII from the sink-bound documents and packs (text.
    # redact_pii_columns) AFTER the index appends — fingerprints stay
    # raw-text so future epochs' duplicates still classify — and BEFORE
    # any trainer-facing write. Same stage position as the preset's
    # PretrainingConfig.redact_pii.
    redact_pii: bool = False
    # optional ANN-index maintenance: when the stream carries an embedding
    # column and an IVF index dir (built by similarity.write_ivf_index), each
    # epoch's keepers are appended under the frozen quantizer — same
    # replay-idempotent per-epoch partition contract as everything else
    embedding_col: Optional[str] = None
    ivf_index_dir: Optional[str] = None
    # optional continuous drift monitoring: a baseline histogram written by
    # operators.drift.persist_baseline — each epoch's RAW batch (before the
    # quality floor, so source-shape changes are visible even when the floor
    # would hide them) is scored against it and the per-feature PSI/KL/TVD
    # report lands under <dest>/drift, same per-epoch overwrite contract
    drift_baseline_path: Optional[str] = None
    # optional crawl-time DSIR selection: a model written by
    # operators.selection.persist_dsir_model — each epoch is scored O(batch)
    # against the persisted target/raw distributions and documents below
    # dsir_min_log_weight are shed right after the quality floor (both set
    # or neither). Docs that emit no grams (empty text) have no weight and
    # are shed too — they carry no signal either way.
    dsir_model_path: Optional[str] = None
    dsir_min_log_weight: Optional[float] = None
    # optional INGEST-TIME benchmark decontamination: a frozen eval-suite
    # parquet dir (id_col, text_col) — each epoch sheds incoming docs that
    # leak into it (exact containment ∪ banded near-dup) BEFORE any dedup
    # work or index append, so eval content never enters the corpus at all
    # (the *_against_index forms answer the REVERSE question — which
    # already-accepted docs leak into a NEW suite). The benchmark is small
    # by definition (eval suites), so its per-epoch re-fingerprinting is a
    # broadcast-side cost, never a corpus pass. benchmark_embeddings_path
    # (+ embedding_col + benchmark_embedding_dim) adds the semantic rung:
    # a translated leak sharing no n-grams is still shed.
    benchmark_path: Optional[str] = None
    decontam_overlap: float = 0.5
    near_decontam_jaccard: float = 0.5
    benchmark_embeddings_path: Optional[str] = None
    benchmark_embedding_dim: int = 64
    semantic_decontam_cosine: float = 0.95
    # optional semantic-decontam index maintenance (requires embedding_col):
    # when set, each epoch's keepers' hyperplane band signatures and raw
    # vectors join the <index_prefix>_embsig/_embvec tables (same idempotent
    # per-epoch partition contract as the lexical fingerprints), so
    # incremental.semantic_decontaminate_against_index answers a new eval
    # suite's third-rung decontam O(|eval|) — without rescanning the corpus
    semantic_sig_dim: Optional[int] = None
    semantic_n_bands: int = 4
    semantic_band_planes: int = 8


def documents_from_records(
    records: DataFrame,
    value_schema: str = "doc_id long, text string",
    id_col: str = "doc_id",
) -> DataFrame:
    """Adapter from the canonical Kafka record shape
    (``records.KAFKA_RECORD_SCHEMA`` — what ``normalize_kafka_stream``
    yields) to the document shape the ingest stages consume: the JSON
    ``value`` payload parses into typed columns (PERMISSIVE — malformed
    payloads null out and are dropped), falling back to a synthetic id when
    the payload carries none. Works identically on a streaming or batch
    frame, so the full path
    ``kafka_source → normalize_kafka_stream → documents_from_records →
    start_ingest_pipeline`` is one declarative plan.

    The fallback id derives from (partition, offset) — ``partition * 2^40 +
    offset`` — NOT the bare offset: offsets are only unique per Kafka
    partition, and a bare-offset fallback would let two id-less records from
    different partitions collide on one doc_id and be silently merged by the
    dedup cascade. 2^40 offsets per partition (~1.1e12) before adjacent
    partitions could meet, and the composite stays an orderable long.
    ``value_schema`` is parsed with Spark's own DDL parser (nested types,
    not naive comma-splitting); the not-null filter applies to the text
    column actually configured, not a hardcoded name."""
    from pyspark.sql.types import _parse_datatype_string

    parsed = records.select(
        F.col("partition"),
        F.col("offset"),
        F.from_json(F.col("value"), value_schema).alias("_doc"),
    )
    schema = _parse_datatype_string(value_schema)
    cols = [f.name for f in schema.fields]
    text_col = (
        "text" if "text" in cols else next((c for c in cols if c != id_col), id_col)
    )
    fallback = (
        F.col("partition").cast("long") * F.lit(1 << 40).cast("long")
        + F.col("offset")
    )
    out = parsed.select(
        F.coalesce(F.col(f"_doc.{id_col}"), fallback).alias(id_col),
        *[F.col(f"_doc.{c}").alias(c) for c in cols if c != id_col],
    )
    return out.filter(F.col(text_col).isNotNull())


def _epoch_batch_id(batch_id: int) -> str:
    """Stable, lexically-ordered partition value for a streaming epoch —
    the streaming analogue of the reference's zero-padded offset names
    (`template.py` `%020d`): retries of epoch N reuse it verbatim."""
    return f"epoch-{batch_id:020d}"


def _check_frozen_tokenizer(config: IngestConfig, epoch: str) -> None:
    """Refuse an epoch whose ``config.bpe_merges`` differs from the merge
    list already persisted under ``<dest>/tokenizer/`` (r14 ADVICE): the
    per-epoch artifact write would silently overwrite the tokenizer
    earlier epochs were packed under, the stamp check (``token_mode``/
    ``per_doc_overhead`` only) would still pass, and those epochs would
    assemble under the NEW merges — detectable only via ``n_bad_segments``
    forensics. Runs at batch START so a misconfigured stream fails before
    any index append or sink write; a replay with the identical frozen
    list sails through (byte-identical rewrite). The same rule covers the
    vocab artifact (r15): a changed ``bpe_vocab`` would silently remap
    every earlier epoch's integer-id windows."""
    if config.bpe_vocab is not None and config.bpe_merges is None:
        raise ValueError(
            "IngestConfig.bpe_vocab requires bpe_merges — the vocab is "
            "the id half of the frozen BPE tokenizer, meaningless without "
            "its merge list"
        )
    if config.bpe_merges is None:
        return
    from kafka_connector_s3_sink_spark.operators import tokenizer as _tok

    merges_path = f"{config.dest_dir}/tokenizer/merges.json"
    try:
        existing = _tok.load_merges(merges_path)
    except (OSError, FileNotFoundError):
        existing = None  # first BPE epoch — nothing persisted yet
    if existing is not None and existing != [
        (a, b) for a, b in config.bpe_merges
    ]:
        raise ValueError(
            f"epoch {epoch}: config.bpe_merges differs from the tokenizer "
            f"already persisted at {merges_path} — earlier epochs were "
            "packed under those merges, and overwriting would make "
            "read_ingest_windows silently assemble them under the new "
            "list; restore the original merge list, or ingest into a "
            "fresh destination"
        )
    if config.bpe_vocab is not None:
        vocab_path = f"{config.dest_dir}/tokenizer/vocab.json"
        try:
            existing_vocab = _tok.load_vocab(vocab_path)
        except (OSError, FileNotFoundError):
            existing_vocab = None
        if existing_vocab is not None and existing_vocab != list(
            config.bpe_vocab
        ):
            raise ValueError(
                f"epoch {epoch}: config.bpe_vocab differs from the vocab "
                f"already persisted at {vocab_path} — earlier epochs' "
                "integer-id windows were minted under those ids, and "
                "overwriting would silently remap them; restore the "
                "original vocab, or ingest into a fresh destination"
            )


def process_crawl_batch(
    batch_df: DataFrame,
    batch_id: int,
    config: IngestConfig,
) -> None:
    """One flush cycle of the LLM ingest (runs under ``foreachBatch`` and,
    identically, in batch tests — one code path, like ``write_batch``)."""
    spark = batch_df.sparkSession
    epoch = _epoch_batch_id(batch_id)
    id_col, text_col = config.id_col, config.text_col
    _check_frozen_tokenizer(config, epoch)

    # stage 0a (optional): drift monitoring against the persisted baseline —
    # computed on the RAW batch and deferred to the metrics write block so
    # it shares the epoch's idempotent-overwrite transaction
    drift_rep = None
    if config.drift_baseline_path is not None:
        from kafka_connector_s3_sink_spark.operators import drift as drift_ops

        drift_rep = drift_ops.drift_vs_baseline(
            batch_df.select(text_col),
            config.drift_baseline_path,
            drift_ops.text_drift_features(),
        )

    # stage 0 (optional): quality floor — narrow map, sheds junk before any
    # shuffle-bearing dedup work touches it
    n_input = batch_df.count() if config.write_metrics else None
    if config.min_quality is not None:
        if config.quality_weights is not None:
            from kafka_connector_s3_sink_spark.operators.quality import (
                classifier_score,
            )

            floor = classifier_score(
                F.col(text_col), config.quality_weights
            )
        else:
            floor = quality_score(F.col(text_col))
        batch_df = batch_df.filter(floor >= config.min_quality)

    # stage 0b (optional): DSIR selection against the persisted model —
    # O(batch) broadcast scoring, keep docs reading target-like enough
    if (config.dsir_model_path is None) != (config.dsir_min_log_weight is None):
        raise ValueError(
            "dsir_model_path and dsir_min_log_weight must be set together"
        )
    if config.dsir_model_path is not None:
        from kafka_connector_s3_sink_spark.operators import selection

        passing = (
            selection.dsir_score_batch(
                batch_df, config.dsir_model_path, id_col=id_col,
                text_col=text_col,
            )
            .filter(F.col("log_weight") >= config.dsir_min_log_weight)
            .select(F.col("doc_id").alias(id_col))
        )
        batch_df = batch_df.join(passing, id_col, "left_semi")
    # stage 0c (optional): ingest-time benchmark decontamination — shed
    # eval-suite leaks before they enter the cascade, the index, or the sink
    if (
        config.benchmark_embeddings_path is not None
        and config.embedding_col is None
    ):
        raise ValueError(
            "benchmark_embeddings_path requires embedding_col to be set"
        )
    decontam_cache: list = []
    if (
        config.benchmark_path is not None
        or config.benchmark_embeddings_path is not None
    ):
        flag_sets = []
        if config.benchmark_path is not None:
            bench = spark.read.parquet(config.benchmark_path)
            flag_sets.append(
                dedup.decontamination_matches(
                    batch_df,
                    bench,
                    id_col=id_col,
                    text_col=text_col,
                    min_overlap_ratio=config.decontam_overlap,
                    unpersist_registry=decontam_cache,
                ).select("corpus_id")
            )
            flag_sets.append(
                dedup.near_decontamination_matches(
                    batch_df,
                    bench,
                    id_col=id_col,
                    text_col=text_col,
                    jaccard_threshold=config.near_decontam_jaccard,
                    unpersist_registry=decontam_cache,
                ).select("corpus_id")
            )
        if config.benchmark_embeddings_path is not None:
            bench_emb = spark.read.parquet(config.benchmark_embeddings_path)
            flag_sets.append(
                dedup.semantic_decontamination_matches(
                    batch_df.select(
                        F.col(id_col).alias("vec_id"),
                        F.col(config.embedding_col).alias("embedding"),
                    ),
                    bench_emb.select(
                        F.col(id_col).alias("vec_id"),
                        F.col(config.embedding_col).alias("embedding"),
                    ),
                    dim=config.benchmark_embedding_dim,
                    cosine_threshold=config.semantic_decontam_cosine,
                    unpersist_registry=decontam_cache,
                ).select("corpus_id")
            )
        flagged = flag_sets[0]
        for fs in flag_sets[1:]:
            flagged = flagged.unionByName(fs)
        batch_df = batch_df.join(
            flagged.distinct().withColumnRenamed("corpus_id", id_col),
            id_col,
            "left_anti",
        )
        # truncate lineage HERE: without it, every downstream stage (cascade,
        # classification, index append, pack, three writes) carries the
        # union-of-three-rungs fingerprint trees in its logical plan —
        # Catalyst re-optimizes the whole history per action and the
        # adaptive plan STRING alone can exhaust the driver heap (the
        # connected_components localCheckpoint lesson, same class). The
        # checkpoint materializes only the batch (batch-sized by
        # definition), after which the decontam intermediates release.
        batch_df = batch_df.localCheckpoint(eager=True)
        for cached in decontam_cache:
            cached.unpersist()
        decontam_cache.clear()
    n_qualified = (
        batch_df.count()
        if (
            config.write_metrics
            and (
                config.min_quality is not None
                or config.dsir_model_path is not None
                or config.benchmark_path is not None
                or config.benchmark_embeddings_path is not None
            )
        )
        else n_input
    )

    bands_cache: list = []
    # stage 1: intra-batch cascade → canonical docs only. The hot-band cap
    # applies here too — a boilerplate-heavy micro-batch would otherwise
    # emit C(n,2) intra-batch candidate rows from one band key before the
    # history classification even runs. The verify shingle frame registers
    # in bands_cache and releases with the epoch's other caches.
    clusters = dedup.dedup_cascade(
        batch_df,
        id_col=id_col,
        text_col=text_col,
        jaccard_threshold=config.jaccard_threshold,
        max_band_df=config.max_band_df,
        unpersist_registry=bands_cache,
    )
    canon = batch_df.join(
        clusters.filter(F.col("is_canonical") == 1).select(id_col),
        id_col,
        "left_semi",
    )

    # stage 2: classify canonicals against history (self-partition excluded
    # so a replayed epoch can't see its own first-attempt fingerprints)
    classified = incremental.incremental_dedup(
        canon,
        config.index_prefix,
        jaccard_threshold=config.jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
        database=config.database,
        unpersist_registry=bands_cache,
        exclude_batch_id=epoch,
        max_band_df=config.max_band_df,
        # partition-agnostic replay backstop: even if index compaction folded
        # an epoch the checkpoint can still replay (erasing the batch_id the
        # exclude_batch_id filter prunes on), the replayed docs never see
        # their own fingerprints — broadcast anti-joins, no extra shuffle
        exclude_batch_docs=True,
    ).persist()  # feeds keepers AND the metrics rollup; one row per canonical
    keepers = canon.join(
        classified.filter(F.col("status") == "keep").select(
            F.col("doc_id").alias(id_col)
        ),
        id_col,
        "left_semi",
    )
    # the keeper set feeds three consumers (index append, split write, pack);
    # materialize it once instead of re-running cascade+classification
    keepers = keepers.persist()
    try:
        # stage 3: keepers' fingerprints join the index (skip-if-present)
        incremental.append_to_index(
            keepers,
            config.index_prefix,
            config.index_location,
            num_buckets=config.num_buckets,
            id_col=id_col,
            text_col=text_col,
            batch_id=epoch,
            database=config.database,
        )

        # stage 3b (optional): keepers' embeddings join the ANN index —
        # assignment under the frozen quantizer is O(keepers), and the write
        # dynamically overwrites only this epoch's partitions
        if config.embedding_col is not None and config.ivf_index_dir is not None:
            from kafka_connector_s3_sink_spark.operators import similarity

            similarity.append_to_ivf_index(
                keepers.select(
                    F.col(id_col).alias("vec_id"),
                    F.col(config.embedding_col).alias("embedding"),
                ),
                config.ivf_index_dir,
                batch_id=epoch,
            )

        # stage 3c (optional): keepers' embedding band signatures join the
        # semantic decontam index — same skip-if-present epoch idempotence
        if config.semantic_sig_dim is not None:
            if config.embedding_col is None:
                raise ValueError(
                    "semantic_sig_dim requires embedding_col to be set"
                )
            incremental.append_to_embedding_index(
                keepers.select(id_col, config.embedding_col),
                config.index_prefix,
                config.index_location,
                num_buckets=config.num_buckets,
                id_col=id_col,
                vec_col=config.embedding_col,
                dim=config.semantic_sig_dim,
                n_bands=config.semantic_n_bands,
                band_planes=config.semantic_band_planes,
                batch_id=epoch,
                database=config.database,
            )

        # stage 3d (optional): PII redaction — AFTER every index append
        # (the persisted fingerprint/embedding tables key on RAW text, so
        # future epochs' duplicates of this content still classify) and
        # BEFORE the split/pack sink writes (no object the trainer reads
        # carries raw PII). Deterministic, so the epoch-replay idempotence
        # contract is unchanged. Same relative position as the preset's
        # pii_redaction stage (pretraining.PretrainingConfig.redact_pii).
        out_docs = keepers  # NOT rebound: the finally-block unpersist must
        # target the persisted handle (unpersisting a derived frame is a
        # cache-manager no-op and would leak the keeper cache per epoch)
        if config.redact_pii:
            from kafka_connector_s3_sink_spark.operators import text as text_ops

            out_docs = keepers.withColumn(
                text_col,
                text_ops.redact_pii_columns(F.col(text_col))["text_redacted"],
            )

        # stage 4+5: split label, then idempotent per-epoch partition overwrite
        labeled = sampling.hash_split(
            out_docs, config.split_weights, id_col=id_col
        ).withColumn("batch_id", F.lit(epoch))
        overwrite_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                labeled.write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(f"{config.dest_dir}/documents")
            )
            if config.bpe_merges is not None:
                # tokenizer-true budgets (r12): count with the frozen BPE
                # on the SINK-BOUND text (post-redaction, exactly what the
                # trainer tokenizes) — same stage order as the preset, so
                # pack geometry matches it on a shared corpus
                from kafka_connector_s3_sink_spark.operators import tokenizer

                pack_input = tokenizer.bpe_encode(
                    out_docs, list(config.bpe_merges), text_col=text_col
                ).select(id_col, F.col("n_tokens").alias("bpe_tokens"))
                packed = packing.pack_sequences(
                    pack_input,
                    config.ctx_len,
                    id_col=id_col,
                    per_doc_overhead=config.per_doc_overhead,
                    token_count_col="bpe_tokens",
                )
            else:
                packed = packing.pack_sequences(
                    out_docs,
                    config.ctx_len,
                    id_col=id_col,
                    text_col=text_col,
                    per_doc_overhead=config.per_doc_overhead,
                )
            packed = packed.withColumn("batch_id", F.lit(epoch))
            with packing.locality_write_conf(spark):
                (
                    # locality contract (r12, parity with
                    # write_packed_corpus): one pack's segments in one file,
                    # sorted by slot position; the conf guard clears a
                    # session maxRecordsPerFile that would split task
                    # outputs and break the contract
                    packed.repartition(config.pack_shards, "pack_id")
                    .sortWithinPartitions("pack_id", "pack_pos")
                    .write.mode("overwrite")
                    .partitionBy("batch_id")
                    .parquet(f"{config.dest_dir}/packs")
                )
            # per-epoch pack stats, recomputed FROM THE WRITTEN FILES (so
            # the stats row describes what is actually on disk, and a
            # replayed epoch regenerates it byte-consistently) — the other
            # half of read_ingest_packs' verifying startup check
            (
                spark.read.parquet(f"{config.dest_dir}/packs")
                .filter(F.col("batch_id") == epoch)
                .groupBy("batch_id")
                .agg(
                    F.countDistinct("pack_id").alias("n_packs"),
                    F.countDistinct(id_col).alias("n_docs"),
                    F.count(F.lit(1)).alias("n_segments"),
                    F.sum("seg_tokens").alias("n_tokens"),
                )
                # stamp WHICH id column n_docs counted (r13, VERDICT item
                # 5): a reader verifying under a different id_col fails
                # with a named-column error, not a stats mismatch
                .withColumn("id_col", F.lit(id_col))
                # stamp HOW the budgets were counted (r14): the window
                # reader needs the token model to reconstruct — a
                # BPE-packed epoch assembled under the whitespace
                # heuristic would silently produce wrong windows, so the
                # mode travels with the stats instead of out-of-band
                .withColumn(
                    "token_mode",
                    F.lit(
                        "bpe" if config.bpe_merges is not None
                        else "heuristic"
                    ),
                )
                .withColumn(
                    "per_doc_overhead", F.lit(config.per_doc_overhead)
                )
                # lowercase stamp (r15, VERDICT item 3): the token
                # normalization the budgets were counted under. Today it
                # is bpe_encode's hard default (the encode call above
                # passes no knob), but stamping it now means the day the
                # knob IS exposed, a mismatched reconstruction fails with
                # a named refusal in read_ingest_windows instead of
                # n_bad_segments forensics.
                .withColumn("lowercase", F.lit(True))
                # ctx_len stamp (r14): lets verify_pack_layout pin the
                # slot map (max(pack_pos+seg_tokens) <= ctx) — the
                # corruption class the count/sum stats can't see
                .withColumn("ctx_len", F.lit(config.ctx_len))
                .coalesce(1)
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(f"{config.dest_dir}/pack_stats")
            )
            if config.bpe_merges is not None:
                # persist the frozen tokenizer BESIDE the corpus so the
                # trainer side is self-contained (read_ingest_windows
                # loads it back); the merge list is frozen config —
                # enforced against the already-persisted artifact at
                # batch START (_check_frozen_tokenizer, r14 ADVICE), so a
                # replayed epoch rewrites identical bytes here
                from kafka_connector_s3_sink_spark.operators import (
                    tokenizer as _tok,
                )

                _tok.save_merges(
                    list(config.bpe_merges),
                    f"{config.dest_dir}/tokenizer/merges.json",
                )
                if config.bpe_vocab is not None:
                    # the id half (r15): with vocab.json beside the
                    # merges, integer-id windows (read_ingest_windows
                    # ids=True) are reproducible from the corpus
                    # artifacts alone — the fit-time word table the
                    # vocab's char tier derived from never needs to
                    # travel
                    _tok.save_vocab(
                        list(config.bpe_vocab),
                        f"{config.dest_dir}/tokenizer/vocab.json",
                    )
            if config.write_metrics:
                # one audit row per epoch: counts are O(1)-row driver results
                # over the already-persisted classification (plus two narrow
                # map-only passes over the raw batch for input/quality counts)
                by_status = {
                    r["status"]: r["n"]
                    for r in classified.groupBy("status")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                metrics = spark.createDataFrame(
                    [
                        (
                            n_input,
                            n_qualified,
                            sum(by_status.values()),
                            by_status.get("exact_dup", 0),
                            by_status.get("near_dup", 0),
                            by_status.get("keep", 0),
                        )
                    ],
                    "n_input long, n_qualified long, n_canonical long, "
                    "n_exact_dup long, n_near_dup long, n_keep long",
                ).withColumn("batch_id", F.lit(epoch))
                (
                    metrics.write.mode("overwrite")
                    .partitionBy("batch_id")
                    .parquet(f"{config.dest_dir}/metrics")
                )
            if drift_rep is not None:
                (
                    drift_rep.withColumn("batch_id", F.lit(epoch))
                    .write.mode("overwrite")
                    .partitionBy("batch_id")
                    .parquet(f"{config.dest_dir}/drift")
                )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", overwrite_mode
            )
    finally:
        keepers.unpersist()
        classified.unpersist()
        for cached in bands_cache:
            cached.unpersist()
        # decontam-stage _materialize frames (benchmark fingerprints +
        # candidate tables): released per epoch, or a long-lived stream
        # accumulates one persisted set per micro-batch
        for cached in decontam_cache:
            cached.unpersist()


def read_ingest_packs(
    spark: SparkSession,
    dest_dir: str,
    batch_id: Optional[str] = None,
    verify: bool = True,
    id_col: str = "doc_id",
    allow_inflight: bool = False,
) -> DataFrame:
    """Trainer-side reader for the streaming ingest's ``<dest>/packs`` —
    the verifying other half of the per-epoch pack write, mirroring
    ``pretraining.read_packed_corpus`` (r11) on the streaming ladder.

    Returns the packed segment frame (the ``batch_id`` partition column
    included; pass ``batch_id=`` to prune to one epoch's directory at scan
    time). ``verify=True`` (default) runs the shared
    ``packing.verify_pack_layout`` checks (one implementation for both
    trainer-facing readers, so the contracts cannot drift) and raises
    ``ValueError`` on the first violation:

    - **id-column agreement** (first): ``pack_stats`` stamps the id column
      the writer counted ``n_docs`` under; a mismatched ``id_col`` here
      fails with a named-column error rather than a stats mismatch;
    - **pack-file locality**: every (batch_id, pack_id) must live in
      exactly ONE parquet file (pack ids are per-epoch, so the key
      includes the epoch) — the ``IngestConfig.pack_shards`` repartition
      contract that lets a loader stream each context window without a
      shuffle;
    - **stats agreement**: per-epoch ``n_packs / n_docs / n_segments /
      n_tokens`` recomputed from the data must equal ``<dest>/pack_stats``.
      Within one epoch write, packs land BEFORE the stats row — a
      full-table verify that overlaps an in-flight ``process_crawl_batch``
      would see a stats-less epoch. That raises a distinct in-flight/
      interrupted-write error by default; pass ``allow_inflight=True`` to
      verify only the completed epochs (or prune to one completed epoch
      via ``batch_id=``).

    Each check is one pass over the (pruned) packs table — run once at
    training startup, then re-read with ``verify=False``."""
    df = spark.read.parquet(f"{dest_dir}/packs")
    if batch_id is not None:
        df = df.filter(F.col("batch_id") == batch_id)
    if verify:
        packing.verify_pack_layout(
            spark,
            df,
            f"{dest_dir}/pack_stats",
            key_col="batch_id",
            id_col=id_col,
            writer_name="process_crawl_batch",
            key_value=batch_id,
            allow_missing_stats=allow_inflight,
        )
    return df


def read_ingest_windows(
    spark: SparkSession,
    dest_dir: str,
    batch_id: Optional[str] = None,
    verify: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    allow_inflight: bool = False,
    ids: bool = False,
) -> DataFrame:
    """Reconstruct the ingest corpus's training windows straight from the
    destination — the self-contained trainer/inspection entry point (r14):
    everything needed travels WITH the corpus (packs + documents tables,
    the ``token_mode``/``per_doc_overhead`` stamps in ``pack_stats``, and
    the frozen merge list under ``<dest>/tokenizer/``), so no out-of-band
    knowledge can be wrong.

    Routing is stamp-driven: a ``bpe``-stamped epoch assembles via
    ``packing.assemble_bpe_packs`` with the persisted merges (missing
    merges file → named ValueError); a ``heuristic`` epoch with zero
    overhead assembles via ``packing.assemble_packs`` (nonzero heuristic
    overhead has no text-positional window semantics and raises).
    Epochs packed under DIFFERENT stamps can only be read one epoch at a
    time (pass ``batch_id=``) — the unscoped read raises rather than
    assembling half the corpus under the wrong model. Stats written
    before r14 carry no stamp and raise with the re-ingest/direct-call
    escape hatches named.

    Returns one row per (batch_id, pack_id): ``pack_tokens``,
    ``pack_text``, plus (BPE) ``pack_window``/``layout_tokens``/
    ``n_bad_segments`` — check ``n_bad_segments = 0`` before trusting a
    BPE reconstruction. ``verify=True`` runs ``read_ingest_packs``' full
    layout verification first.

    ``ids=True`` (r15, VERDICT item 1) additionally returns ``pack_ids``
    — the window as INTEGER token ids via the persisted
    ``<dest>/tokenizer/vocab.json`` (``tokenizer.map_tokens_to_ids``;
    unknown tokens map to id 0 = UNK, which cannot occur when the vocab
    was fit on the ingested corpus) — what a trainer's data loader
    actually consumes. Requires a BPE-stamped corpus whose destination
    carries the vocab artifact (``IngestConfig.bpe_vocab`` at ingest
    time); a heuristic corpus or a missing vocab raises a named
    ``ValueError``, mirroring the missing-merges path.

    The ``lowercase`` stamp (r15) routes the re-encode's normalization;
    stats written before the stamp existed read as ``True`` — the only
    value any writer ever used. Cost: the packs/documents equi-join + one
    pack aggregation (+ the Arrow re-encode for BPE) — a verification/
    inspection read; the training loader streams the one-pack-one-file
    layout directly."""
    from kafka_connector_s3_sink_spark.operators import tokenizer

    packs = read_ingest_packs(
        spark,
        dest_dir,
        batch_id=batch_id,
        verify=verify,
        id_col=id_col,
        allow_inflight=allow_inflight,
    )
    stats = spark.read.parquet(f"{dest_dir}/pack_stats")
    if batch_id is not None:
        stats = stats.filter(F.col("batch_id") == batch_id)
    if "token_mode" not in stats.columns:
        raise ValueError(
            f"pack_stats under {dest_dir} carries no token_mode stamp "
            "(written before r14) — re-ingest, or call "
            "packing.assemble_packs / assemble_bpe_packs directly with "
            "the knobs the writer used"
        )
    stamp_cols = ["token_mode", "per_doc_overhead"]
    # pre-r15 stats carry no lowercase stamp; every writer before the
    # stamp hard-defaulted True, so absence reads as True
    has_lc = "lowercase" in stats.columns
    if has_lc:
        stamp_cols.append("lowercase")
    stamps = {
        (
            r["token_mode"],
            r["per_doc_overhead"],
            bool(r["lowercase"]) if has_lc else True,
        )
        for r in stats.select(*stamp_cols).distinct().collect()
    }
    if len(stamps) > 1:
        raise ValueError(
            f"epochs under {dest_dir} were packed under different token "
            f"models {sorted(stamps)} — windows can only be assembled one "
            "epoch at a time here; pass batch_id="
        )
    if not stamps:
        raise ValueError(
            f"no pack_stats rows under {dest_dir}"
            + (f" for batch_id={batch_id!r}" if batch_id is not None else "")
            + " — nothing to assemble"
        )
    mode, overhead, lowercase = next(iter(stamps))
    if ids and mode != "bpe":
        raise ValueError(
            f"integer-id windows need a BPE-packed corpus, but the "
            f"pack_stats stamp under {dest_dir} says token_mode={mode!r} "
            "— the whitespace heuristic has no id inventory; re-ingest "
            "with IngestConfig.bpe_merges + bpe_vocab"
        )
    docs = spark.read.parquet(f"{dest_dir}/documents")
    if batch_id is not None:
        docs = docs.filter(F.col("batch_id") == batch_id)
    if mode == "bpe":
        merges_path = f"{dest_dir}/tokenizer/merges.json"
        try:
            merges = tokenizer.load_merges(merges_path)
        except (OSError, FileNotFoundError) as exc:
            raise ValueError(
                f"no persisted tokenizer at {merges_path} but the "
                "pack_stats stamp says the corpus was BPE-packed — the "
                "tokenizer directory was lost, or the corpus predates the "
                "r14 artifact write; pass the merge list to "
                "packing.assemble_bpe_packs directly"
            ) from exc
        win = packing.assemble_bpe_packs(
            packs,
            docs,
            merges,
            id_col=id_col,
            text_col=text_col,
            pack_key=("batch_id", "pack_id"),
            lowercase=lowercase,
            per_doc_overhead=int(overhead),
        )
        if ids:
            vocab_path = f"{dest_dir}/tokenizer/vocab.json"
            try:
                vocab = tokenizer.load_vocab(vocab_path)
            except (OSError, FileNotFoundError) as exc:
                raise ValueError(
                    f"no persisted vocab at {vocab_path} but integer-id "
                    "windows were requested — the corpus was ingested "
                    "without IngestConfig.bpe_vocab (or the tokenizer "
                    "directory was lost); re-ingest with the frozen "
                    "vocab, or map ids yourself via "
                    "tokenizer.map_tokens_to_ids"
                ) from exc
            win = tokenizer.map_tokens_to_ids(
                win, vocab, tokens_col="pack_window", out_col="pack_ids"
            )
        return win
    if int(overhead) != 0:
        raise ValueError(
            f"heuristic-counted packs with per_doc_overhead={overhead} "
            "have no text-positional window semantics (the overhead slots "
            "are framing, not words) — windows for overhead layouts need "
            "the BPE path"
        )
    return packing.assemble_packs(
        packs,
        docs,
        id_col=id_col,
        text_col=text_col,
        pack_key=("batch_id", "pack_id"),
    )


def start_ingest_pipeline(
    docs: DataFrame,
    config: IngestConfig,
    query_name: str = "llm-ingest",
    trigger: Optional[dict] = None,
):
    """Start the streaming ingest over a streaming DataFrame of documents
    (``id_col``, ``text_col``, any passthrough columns). The index at
    ``index_prefix`` must exist (``incremental.build_dedup_index`` — possibly
    over an empty frame for a cold start).

    ``trigger`` defaults to ``{"availableNow": True}`` (drain-what-exists,
    the replayable-batch shape); pass e.g. ``{"processingTime": "30 seconds"}``
    for a continuous deployment."""
    writer = (
        docs.writeStream.queryName(query_name)
        .foreachBatch(
            lambda batch_df, batch_id: process_crawl_batch(
                batch_df, batch_id, config
            )
        )
        .option("checkpointLocation", config.checkpoint_location)
        .trigger(**(trigger or {"availableNow": True}))
    )
    return writer.start()
