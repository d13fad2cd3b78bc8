"""One-call pretraining-corpus preset: the MIGRATION.md tour as a single
composable API.

``pretraining_pipeline`` wires the engine's corpus-engineering stages in the
order a production pretraining build runs them:

    crawl documents (``sources.warc.warc_documents`` →
    ``enrich_crawl_documents``, or any (doc_id, text, …) frame)
    → non-empty filter
    → quality floor                (static heuristic or trained classifier
                                    score — whatever sits in ``quality``)
    → paragraph dedup              (CCNet/C4 boilerplate stage)
    → duplicate-span surgery       (Lee et al. substring grain)
    → near-dup cascade             (exact → LSH → Jaccard verify → CC,
                                    keep canonicals)
    → benchmark decontamination    (exact containment AND banded near-dup,
                                    when a benchmark frame is supplied)
    → DSIR selection               (Gumbel top-k importance resampling
                                    toward a curated target, when a target
                                    frame or persisted model is supplied)
    → per-domain cap               (C4 balancing, salted two-phase top-K)
    → PII redaction                (optional; typed-placeholder regex chain
                                    — LAST text mutation, so dedup/decontam
                                    fingerprints stay raw-text-stable while
                                    no trainer-facing frame carries raw PII)
    → mixture                      (per-source serve rates, up-sampling by
                                    deterministic epoch replication)
    → split + sequence packing     (leakage-safe cluster split joined onto
                                    packs)

Every stage is the already-scale-audited operator — the preset adds NO new
shuffle shapes, it only fixes the composition order (quality before dedup so
the cascade never fingerprints rejected docs; decontam after dedup so flags
hit canonical survivors; selection after decontam so quota never goes to
contaminated pages, per the Xie et al. 2023 ordering; the cap after
selection so per-domain slots rank the already-target-shaped survivors;
split labels derived from the ORIGINAL doc_id's candidate-pair cluster so
(a) replicas of one document and (b) band-colliding near-dup pairs whose
Jaccard fell below the cascade threshold — both members survive dedup —
can never straddle the train/val boundary).

Determinism contract: every stage is a pure function of (id, seed) — re-runs
and incremental rebuilds reproduce the identical corpus, mixture, split, and
pack layout.

Parity with ``streaming.ingest.process_crawl_batch`` (the streaming
flagship): on a shared corpus + knobs the two ladders admit the SAME
doc-id set (pinned by ``tests/test_r11_parity.py``), with ONE documented
ordering divergence: the ingest decontaminates BEFORE its cascade (eval
content must never reach the persisted index or any dedup work), this
preset AFTER (decontam joins then scan the smaller deduped corpus). At
the edge — a benchmark leak that is also a near-dup cluster's canonical —
the ingest re-canonicalizes around the shed leak (precise: only actual
leaks die) while the preset sheds the whole cluster (conservative:
near-dups of leaks die too). Both behaviors are pinned; neither may
change silently.

Accounting: ``PretrainingResult.accounting()`` runs one count job per stage
over lazy lineage — at scale, construct the pipeline with
``PretrainingConfig(persist_stages=True)`` so each stage materializes ONCE
(stage N's count reuses stage N-1's cache) and call
``PretrainingResult.unpersist()`` when done. The default (no persistence)
keeps the preset purely lazy for callers that only consume ``packed``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import (
    dedup,
    packing,
    sampling,
    selection,
    tokenizer,
)
from kafka_connector_s3_sink_spark.operators import text as text_ops
from kafka_connector_s3_sink_spark.operators import urls as url_ops


@dataclass(frozen=True)
class PretrainingConfig:
    """Knobs for ``pretraining_pipeline`` — defaults follow the per-operator
    defaults the individual stages document; every stage with a ``None``
    knob is skipped (the preset degrades to the stages you configured)."""

    quality_floor: float | None = 0.2
    # trained-quality parity with IngestConfig.quality_weights: when set
    # (an operators.quality.fit_quality_classifier weight tuple), the
    # floor gates on classifier_score(text, weights) — still a pure JVM
    # Column chain — instead of the static heuristic. A precomputed
    # `quality` column, when present, wins over both.
    quality_weights: tuple | None = None
    jaccard_threshold: float = 0.8
    # hot-band guard forwarded to the cascade's LSH candidate stage
    # (dedup.minhash_lsh_pairs): bands shared by more than max_band_df docs
    # are dropped before the self-join, bounding any key's pair fan-out at
    # C(cap, 2) — AND bounding the candidate-pair CC graph the leakage-safe
    # split blocks on (one hot band would otherwise inject C(n,2) edges).
    # Tradeoff: that smaller CC graph is also a bounded LEAKAGE-SAFETY
    # loss — a near-dup pair whose every shared band is hot loses its
    # blocking edge and may straddle train/test (boilerplate-heavy
    # near-dups; see dedup_cascade_artifacts). None keeps exact LSH
    # semantics; identical output when no band is hot. Probe-backed sizing
    # (SCALING.md r11 section): organic band frequencies top out at single
    # digits (max 4 at sf0.1) while planted boilerplate
    # families reach corpus-fraction sizes, so ~64 leaves clean corpora
    # bit-identical and cuts a 10%-boilerplate corpus's pair volume 4,700x
    # with recall on genuine near-dup pairs IDENTICAL to uncapped.
    max_band_df: int | None = None
    span_tokens: int = 50
    decontam_overlap: float = 0.5
    near_decontam_jaccard: float = 0.5
    # semantic decontam rung (active only when pretraining_pipeline is
    # given ``benchmark_embeddings``): docs must carry ``embedding_col``
    semantic_decontam_cosine: float = 0.95
    embedding_col: str = "embedding"
    embedding_dim: int = 64
    # DSIR selection rung (active only when pretraining_pipeline is given
    # ``target_docs`` or ``dsir_model_path``): keep the dsir_top_k docs
    # with the largest log-importance + Gumbel score
    dsir_top_k: int | None = None
    domain_cap: int | None = None
    n_salts: int = 16
    # redact PII from the trainer-facing text (text.redact_pii_columns'
    # ordered regex chain: email/cc/id/ip/phone -> typed placeholders),
    # applied as the LAST text-mutating stage — after every fingerprint
    # consumer (dedup, decontam, DSIR all see original text, keeping ids
    # and incremental-index comparability stable) and before mixture/
    # split/pack (nothing downstream sees raw PII). Per-type totals land
    # in PretrainingResult.pii_totals.
    redact_pii: bool = False
    mixture: Mapping[str, float] | None = None
    # alternative to an explicit rate map: XLM-R temperature sampling
    # (sampling.temperature_mixture_rates) fitted on the corpus that
    # REACHES the mixture stage — q_g ∝ p_g^alpha, expected total
    # preserved at mixture_scale; mutually exclusive with `mixture`
    mixture_alpha: float | None = None
    mixture_scale: float = 1.0
    mixture_max_rate: float | None = None
    source_col: str = "source"
    # when the mixture is configured but the corpus carries no source_col,
    # derive it with text.language_id_multi (30-language two-tier ID) —
    # the one-call multilingual balance (mixture_alpha α-sampling over
    # detected languages). Default False keeps the missing-column error.
    derive_source_language: bool = False
    splits: Mapping[str, float] | None = None  # default 0.9/0.05/0.05
    ctx_len: int = 2048
    # tokenizer-true packing: a frozen BPE merge list (tokenizer.fit_bpe
    # output) switches pack budgets from the whitespace heuristic to real
    # BPE token counts; per_doc_overhead models framing tokens (EOS etc.)
    bpe_merges: Sequence[tuple[str, str]] | None = None
    # the frozen CLOSED vocabulary (tokenizer.bpe_vocab_ids output) — the
    # id half of the tokenizer (r15, VERDICT item 1). When set (requires
    # bpe_merges), write_packed_corpus persists it beside the merges
    # under <dest>/tokenizer/vocab.json and assemble_windows(ids=True)
    # returns pack_ids — integer-id windows reproducible from the corpus
    # artifacts alone (the vocab's char tier depends on the FIT-TIME word
    # table, which is not a destination artifact, so the derived vocab
    # must travel).
    bpe_vocab: Sequence[str] | None = None
    per_doc_overhead: int = 0
    # pack each split's documents in an independent stream (pack ids are
    # then per-split): no pack straddles the train/val/test boundary, so
    # every window is hole-free for its loader. Default False keeps one
    # global stream (marginally better fill; packs may span splits and a
    # per-split reader sees only its own slots)
    pack_per_split: bool = False
    # persist every recorded stage frame (MEMORY_AND_DISK) so accounting()
    # costs one pass per stage instead of replaying the lineage above it
    persist_stages: bool = False
    seed: str = "pretrain"


@dataclass
class PretrainingResult:
    """Stage snapshots + the final packed layout.

    ``stages`` is ordered (insertion order = pipeline order); each value is
    the lazy DataFrame AFTER that stage. ``packed`` is the trainer-facing
    layout: one row per (document replica, pack) segment with the original
    ``doc_id``, its ``mix_epoch`` replica index, the pack geometry from
    ``packing.pack_sequences``, and the document's stable ``split`` label.
    ``epoch_slots`` is the mixture's replica-slot count (max epochs any
    source serves); packing identities are the composite string
    ``'<mix_epoch>:<doc_id>'`` — exact for any id type and width, unlike an
    integer ``doc_id·slots + epoch`` encode, which overflows 64-bit for
    63-bit xxhash ids and decodes inexactly through double division."""

    stages: dict[str, DataFrame] = field(default_factory=dict)
    packed: DataFrame | None = None
    epoch_slots: int = 1
    caches: list = field(default_factory=list)
    # one-row frame of per-type PII redaction totals (n_pii_email, …) —
    # populated only under PretrainingConfig(redact_pii=True); lazy, and it
    # aggregates over the materialized pre-mixture frame (r12), so consuming
    # it costs exactly one aggregation job in both persistence modes
    pii_totals: DataFrame | None = None
    # whether packs were built per split (pack ids then scope to their
    # split; no pack can straddle) — consumed by write_packed_corpus's
    # straddle/hole accounting
    pack_per_split: bool = False
    # the token model the layout was budgeted under (r14) — what
    # assemble_windows needs to reconstruct context windows, and what
    # write_packed_corpus stamps into <dest>/stats / persists under
    # <dest>/tokenizer so the knowledge travels with the corpus
    bpe_merges: Sequence[tuple[str, str]] | None = None
    # the frozen closed vocab (r15) — persisted beside the merges by
    # write_packed_corpus; what assemble_windows(ids=True) maps
    # pack_window through
    bpe_vocab: Sequence[str] | None = None
    per_doc_overhead: int = 0
    # the token normalization budgets were counted under (r15) — stamped
    # into <dest>/stats and routed into the reconstruction; today always
    # the bpe_encode hard default
    lowercase: bool = True
    # context length the packs were budgeted for (0 = unknown, hand-built
    # result) — stamped into <dest>/stats so verify_pack_layout can pin
    # the slot map (max(pack_pos + seg_tokens) <= ctx_len)
    ctx_len: int = 0

    def accounting(self) -> list[tuple[str, int]]:
        """(stage, row count) in pipeline order — one count job per stage.
        With ``persist_stages=True`` each stage materializes exactly once
        (counts run in pipeline order, so every count reuses the previous
        stage's cache); without it each count replays the lineage above."""
        return [(name, df.count()) for name, df in self.stages.items()]

    def unpersist(self) -> None:
        """Release every stage cache created by ``persist_stages=True`` AND
        the pipeline's internal persisted intermediates (cascade candidates,
        decontam fingerprint tables) — call when done consuming the result;
        a long-lived session building many corpora otherwise accumulates
        one persisted set per pipeline call."""
        for df in self.stages.values():
            df.unpersist()
        for df in self.caches:
            df.unpersist()


def _resolved_pack_scope(res: PretrainingResult) -> str:
    """The packed frame's packing-id scope ('global' | 'split'): the
    ``pack_id`` column metadata stamp is authoritative, the dataclass flag
    is the fallback for frames without the stamp, and the two must agree
    when both are present (a manually assembled result can't silently pair
    per-split-packed data with the global key and report phantom straddles
    from id collisions)."""
    meta = res.packed.schema["pack_id"].metadata or {}
    scope = meta.get("pack_scope")
    flag_scope = "split" if res.pack_per_split else "global"
    if scope is None:
        return flag_scope
    if scope != flag_scope:
        raise ValueError(
            f"packed frame's pack_id metadata says pack_scope={scope!r} but "
            f"the result carries pack_per_split={res.pack_per_split} — the "
            "frame's stamp is authoritative; fix the flag (or restamp via "
            "DataFrame.withMetadata) before writing"
        )
    return scope


def _straddle_stats(packed: DataFrame, scope: str) -> DataFrame:
    """Per-split straddle accounting — ``n_straddling_packs`` (packs of
    this split that also carry another split's segments) and
    ``n_hole_tokens`` (token slots inside this split's copies of those
    packs belonging to OTHER splits — the holes a loader streaming this
    split skips via the pack_pos/seg_tokens slot map). Under the GLOBAL
    packing stream a pack's id is corpus-wide, so its total tokens across
    all splits vs inside one split measures the holes; under per-split
    packing ids scope to their split (the same id names DIFFERENT packs in
    different splits), so the key includes the split and the stat is zero
    BY CONSTRUCTION. Shared by ``write_packed_corpus``'s stats table and
    ``corpus_datasheet``'s straddle section (r13), so the two artifacts
    cannot disagree."""
    pack_key = ["split", "pack_id"] if scope == "split" else ["pack_id"]
    pack_tot = packed.groupBy(*pack_key).agg(
        F.sum("seg_tokens").alias("_pack_tokens")
    )
    return (
        packed.groupBy("split", "pack_id")
        .agg(F.sum("seg_tokens").alias("_in_split"))
        .join(pack_tot, pack_key)
        .groupBy("split")
        .agg(
            F.sum(
                (F.col("_pack_tokens") > F.col("_in_split")).cast("long")
            ).alias("n_straddling_packs"),
            F.sum(F.col("_pack_tokens") - F.col("_in_split")).alias(
                "n_hole_tokens"
            ),
        )
    )


def write_packed_corpus(
    res: PretrainingResult,
    dest: str,
    shards_per_split: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write the preset's trainer-facing files:

    - ``<dest>/packed/split=train|val|test/`` — the packed segment layout,
      hash-repartitioned on ``pack_id`` (within a split directory, one
      pack's segments land in ONE file) and sorted ``(pack_id, pack_pos)``
      within files, so a data loader streams each context window
      contiguously without a shuffle of its own. The preset packs BEFORE
      split labeling (labels must derive from original doc ids for
      replica safety), so a pack whose documents straddle splits appears
      in both directories with only its own split's slots — loaders that
      need hole-free windows should treat ``pack_pos``/``seg_tokens`` as
      the authoritative slot map (or run the preset per split);
    - ``<dest>/stats/`` — one row per split with pack/doc/token totals
      PLUS the straddle accounting (the sanity numbers a training run pins
      before it starts): ``n_straddling_packs`` is how many of the split's
      packs also carry another split's segments, and ``n_hole_tokens`` is
      the total token-slots inside this split's copies of those packs that
      belong to OTHER splits — the holes a loader streaming this split
      must skip via the ``pack_pos``/``seg_tokens`` slot map. Under
      ``pack_per_split=True`` both are zero BY CONSTRUCTION — the
      accounting keys packs by (split, pack_id), which the per-split id
      scope makes tautologically hole-free — so only the global-stream
      stat is a data-derived check. The packing mode itself is read from
      the packed frame's ``pack_id`` column metadata (stamped by the
      preset), so the writer cannot be handed a frame/flag mismatch.

    ``shards_per_split`` is the parallelism/file-count grain — size it for
    the TARGET corpus (at 100 TB think thousands; the default keeps local
    runs honest). Content is deterministic under the preset's seeds; file
    NAMES are Spark task outputs (use ``sinks.writer`` when exact object
    names are the contract — this writer optimizes for loader locality
    instead)."""
    if res.packed is None:
        raise ValueError("result carries no packed layout")
    with packing.locality_write_conf(res.packed.sparkSession):
        (
            # the conf guard clears a session maxRecordsPerFile that would
            # split task outputs and silently break the one-pack-one-file
            # contract the verifying reader checks
            res.packed.repartition(shards_per_split, "pack_id")
            .sortWithinPartitions("pack_id", "pack_pos")
            .write.mode(mode)
            .partitionBy("split")
            .parquet(f"{dest}/packed")
        )
    stats = res.packed.groupBy("split").agg(
        F.countDistinct("pack_id").alias("n_packs"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("seg_tokens").alias("n_tokens"),
    )
    # straddle accounting: shared with corpus_datasheet via
    # _straddle_stats / _resolved_pack_scope (see their docstrings for the
    # scope semantics — per-split ids make the stat zero by construction,
    # only the global-stream stat is data-derived)
    stats = stats.join(
        _straddle_stats(res.packed, _resolved_pack_scope(res)), "split"
    )
    # stamp the token model (r14, the ingest ladder's pack_stats pattern):
    # the stats row documents HOW budgets were counted, and the frozen
    # merge list is persisted beside the corpus, so window reconstruction
    # needs no out-of-band knowledge
    stats = (
        stats.withColumn(
            "token_mode",
            F.lit("bpe" if res.bpe_merges is not None else "heuristic"),
        )
        .withColumn("per_doc_overhead", F.lit(res.per_doc_overhead))
        # lowercase stamp (r15, VERDICT item 3): the normalization the
        # budgets were counted under — stamped now so the day the knob is
        # exposed, a mismatched reconstruction fails with a named refusal
        # instead of n_bad_segments forensics
        .withColumn("lowercase", F.lit(bool(res.lowercase)))
    )
    if res.ctx_len > 0:
        # lets verify_pack_layout pin the slot map (a shifted pack_pos
        # passes every count/sum comparison; the bound check catches it)
        stats = stats.withColumn("ctx_len", F.lit(res.ctx_len))
    stats.coalesce(1).write.mode(mode).parquet(f"{dest}/stats")
    if res.bpe_vocab is not None and res.bpe_merges is None:
        raise ValueError(
            "result carries bpe_vocab without bpe_merges — the vocab is "
            "the id half of the frozen BPE tokenizer, meaningless without "
            "its merge list"
        )
    if res.bpe_merges is not None:
        tokenizer.save_merges(
            list(res.bpe_merges), f"{dest}/tokenizer/merges.json"
        )
        if res.bpe_vocab is not None:
            # the id half (r15): with vocab.json beside the merges,
            # integer-id windows are reproducible from the corpus
            # artifacts alone — the fit-time word table never travels
            tokenizer.save_vocab(
                list(res.bpe_vocab), f"{dest}/tokenizer/vocab.json"
            )


def read_packed_corpus(
    spark,
    dest: str,
    split: str | None = None,
    verify: bool = True,
) -> DataFrame:
    """Trainer-side reader for a ``write_packed_corpus`` directory: the
    verifying other half of the write→train handoff.

    Returns the packed segment frame (the ``split`` partition column
    included; pass ``split=`` to prune to one split's directories at scan
    time — partition pruning, no data read for the others).

    ``verify=True`` (default) runs two bounded checks before returning and
    raises ``ValueError`` on the first violation — the failure modes are an
    interrupted/partial write, a compaction or manual copy that broke file
    grouping, or a stats table from a different write than the data:

    - **pack-file locality**: every (split, pack_id) must live in exactly
      ONE parquet file (the writer's ``repartition(pack_id)`` contract —
      what lets a loader stream each context window without a shuffle);
      checked via ``input_file_name`` + one aggregation.
    - **stats agreement**: per-split ``n_packs / n_docs / n_segments /
      n_tokens`` recomputed from the data must equal ``<dest>/stats``
      (one aggregation + a driver-side compare over O(splits) rows).

    Both checks are one pass each over the packed table — run them once at
    training startup, then re-read with ``verify=False``."""
    df = spark.read.parquet(f"{dest}/packed")
    if split is not None:
        df = df.filter(F.col("split") == split)
    if verify:
        packing.verify_pack_layout(
            spark,
            df,
            f"{dest}/stats",
            key_col="split",
            id_col="doc_id",
            writer_name="write_packed_corpus",
            key_value=split,
        )
    return df


def assemble_windows(
    res: PretrainingResult,
    docs: DataFrame,
    text_col: str = "text",
    ids: bool = False,
) -> DataFrame:
    """Reconstruct the preset's training windows from the result (r14) —
    the binding layer over ``packing.assemble_packs`` /
    ``assemble_bpe_packs`` that picks every knob from what the pipeline
    ACTUALLY packed with, so an inspector cannot assemble under the wrong
    token model: the merge list and framing overhead come from the result
    (``res.bpe_merges``/``res.per_doc_overhead``, recorded by
    ``pretraining_pipeline``), and the pack key honors the packing scope
    (``("split", "pack_id")`` under ``pack_per_split`` — per-split id
    streams would otherwise merge colliding ids).

    ``docs`` is the document frame to slice text from — normally the
    result's own final pre-packing stage (the preset writes no documents
    table; the layout + stats are the on-disk artifacts). When a mixture
    with any rate > 1 ran, that stage carries one row PER REPLICA
    (duplicate ``doc_id``, distinct ``mix_epoch``) while ``mix_epoch`` is
    never part of the pack key — a plain ``doc_id`` join would fan every
    segment out to every replica row, multiplying ``pack_tokens`` and
    duplicating segments inside the window (r14 ADVICE, high). Replicas
    of one document carry IDENTICAL text by construction
    (``mixture_sample`` replicates rows, it never rewrites them), so the
    frame is reduced to one row per document before the join: the
    ``mix_epoch = 0`` slice — exact, because every document the mixture
    serves at all serves epoch 0 (full epochs start at 0; a rate < 1
    source's only epoch IS 0 — the nesting invariant in
    ``sampling.mixture_sample``), and narrow (a filter, not a
    ``dropDuplicates`` shuffle). A replica-free ``docs`` frame passes
    through unchanged.

    Heuristic layouts with nonzero ``per_doc_overhead`` raise (framing
    slots have no text position); BPE layouts reconstruct through the
    frozen merges — check ``n_bad_segments = 0`` before trusting those
    windows.

    ``ids=True`` (r15, VERDICT item 1) additionally returns ``pack_ids``
    — the window as integer token ids via the result's frozen vocab
    (``res.bpe_vocab``, from ``PretrainingConfig.bpe_vocab``) — what a
    trainer's data loader consumes. Requires a BPE layout whose result
    carries the vocab; raises a named ``ValueError`` otherwise."""
    if res.packed is None:
        raise ValueError("result carries no packed layout")
    pack_key = (
        ("split", "pack_id") if res.pack_per_split else ("pack_id",)
    )
    if "mix_epoch" in docs.columns:
        # one row per document: the epoch-0 slice (see docstring — exact
        # for any mixture, a no-op for the preset's mix_epoch=0 no-mixture
        # path, and shuffle-free unlike dropDuplicates)
        docs = docs.filter(F.col("mix_epoch") == 0).drop("mix_epoch")
    if ids and res.bpe_merges is None:
        raise ValueError(
            "integer-id windows need a BPE-packed layout, but the result "
            "carries no bpe_merges — the whitespace heuristic has no id "
            "inventory; rebuild with PretrainingConfig.bpe_merges + "
            "bpe_vocab"
        )
    if res.bpe_merges is not None:
        win = packing.assemble_bpe_packs(
            res.packed,
            docs,
            list(res.bpe_merges),
            text_col=text_col,
            pack_key=pack_key,
            lowercase=res.lowercase,
            per_doc_overhead=res.per_doc_overhead,
        )
        if ids:
            if res.bpe_vocab is None:
                raise ValueError(
                    "integer-id windows requested but the result carries "
                    "no bpe_vocab — pass the frozen vocab via "
                    "PretrainingConfig.bpe_vocab (tokenizer.bpe_vocab_ids "
                    "at fit time), or map ids yourself via "
                    "tokenizer.map_tokens_to_ids"
                )
            win = tokenizer.map_tokens_to_ids(
                win,
                list(res.bpe_vocab),
                tokens_col="pack_window",
                out_col="pack_ids",
            )
        return win
    if res.per_doc_overhead != 0:
        raise ValueError(
            f"heuristic-counted packs with per_doc_overhead="
            f"{res.per_doc_overhead} have no text-positional window "
            "semantics (the overhead slots are framing, not words) — "
            "windows for overhead layouts need the BPE path"
        )
    return packing.assemble_packs(
        res.packed, docs, text_col=text_col, pack_key=pack_key
    )


def corpus_datasheet(
    res: PretrainingResult,
    source_col: str = "source",
) -> DataFrame:
    """One-call data card for a finished preset build (Gebru et al. 2018's
    "Datasheets for Datasets", the numbers section): a LONG-format frame
    ``(section, key, value)`` a governance reviewer or training run pins
    before consuming the corpus —

    - ``stage_rows``: per-stage surviving document counts in pipeline order
      (what each quality/dedup/decontam/cap rung removed);
    - ``split``: per-split pack/doc/segment/token totals from the packed
      layout (the trainer-facing volumetrics);
    - ``straddle`` (r13): per-split ``n_straddling_packs`` /
      ``n_hole_tokens`` — the same accounting ``write_packed_corpus`` pins
      into ``<dest>/stats`` (zero by construction under
      ``pack_per_split=True``), via the shared ``_straddle_stats``;
    - ``mixture``: per-source replica counts AFTER α-sampling/rate
      replication, when a mixture stage ran (``source_col`` names the
      grouping column — pass the config's value if overridden);
    - ``pii``: per-type redaction totals, when ``redact_pii`` ran.

    Driver-side cost: ``accounting()``'s one count job per stage plus one
    aggregation per remaining section — run it once per build, ideally
    under ``persist_stages=True`` (each count then reuses the previous
    stage's cache). Everything is derived from the result object; no
    side-channel state, so a replayed build datasheets identically."""
    if res.packed is None:
        raise ValueError("result carries no packed layout")
    spark = res.packed.sparkSession
    rows: list[tuple[str, str, float]] = []
    for name, count in res.accounting():
        rows.append(("stage_rows", name, float(count)))
    for r in (
        res.packed.groupBy("split")
        .agg(
            F.countDistinct("pack_id").alias("n_packs"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("seg_tokens").alias("n_tokens"),
        )
        .collect()
    ):
        for metric in ("n_packs", "n_docs", "n_segments", "n_tokens"):
            rows.append(("split", f"{r['split']}:{metric}", float(r[metric])))
    # straddle accounting (r13): the same numbers write_packed_corpus pins
    # into <dest>/stats — how many of a split's packs also carry another
    # split's segments, and the hole token-slots its loader skips; shared
    # implementation (_straddle_stats), so card and stats table agree
    for r in _straddle_stats(res.packed, _resolved_pack_scope(res)).collect():
        for metric in ("n_straddling_packs", "n_hole_tokens"):
            rows.append(
                ("straddle", f"{r['split']}:{metric}", float(r[metric]))
            )
    if "mixture" in res.stages and source_col in res.stages["mixture"].columns:
        for r in (
            res.stages["mixture"]
            .groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ):
            rows.append(("mixture", str(r[source_col]), float(r["n"])))
    if res.pii_totals is not None:
        totals = res.pii_totals.collect()[0]
        for k in totals.asDict():
            rows.append(("pii", k, float(totals[k] or 0)))
    return spark.createDataFrame(
        rows, "section string, key string, value double"
    )


def _slots(rates: Mapping[str, float]) -> int:
    out = 1
    for r in rates.values():
        n_full = int(r)
        out = max(out, n_full + (1 if r - n_full > 0 else 0))
    return out


def pretraining_pipeline(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    config: PretrainingConfig | None = None,
    benchmark_embeddings: DataFrame | None = None,
    target_docs: DataFrame | None = None,
    dsir_model_path: str | None = None,
) -> PretrainingResult:
    """Run the full corpus build (module docstring) over ``docs``.

    ``docs`` needs ``doc_id`` and ``text``; a ``quality`` column gates the
    quality floor (derived via ``text.quality_score`` when absent and a
    floor is configured), a ``domain`` column (or ``url`` to derive it from)
    gates the per-domain cap, and ``config.source_col`` gates the mixture.
    ``benchmark`` is the eval-suite frame (``doc_id``, ``text``) for the
    exact and banded-near lexical decontamination passes;
    ``benchmark_embeddings`` (``doc_id`` + ``config.embedding_col``) adds
    the SEMANTIC rung — docs must then carry ``config.embedding_col`` too,
    and a translated/deeply-paraphrased leak that shares no n-grams with
    its eval twin is still cut. ``target_docs`` (a curated ``doc_id``,
    ``text`` frame) or ``dsir_model_path`` (a ``selection.
    persist_dsir_model`` directory) plus ``config.dsir_top_k`` adds the
    DSIR selection stage. Returns a :class:`PretrainingResult`.
    """
    cfg = config or PretrainingConfig()
    if cfg.bpe_vocab is not None and cfg.bpe_merges is None:
        raise ValueError(
            "PretrainingConfig.bpe_vocab requires bpe_merges — the vocab "
            "is the id half of the frozen BPE tokenizer, meaningless "
            "without its merge list"
        )
    res = PretrainingResult()

    def record(name: str, df: DataFrame) -> DataFrame:
        if cfg.persist_stages:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        res.stages[name] = df
        return df

    record("input", docs)

    cur = record(
        "nonempty",
        docs.filter(F.col("text").isNotNull() & (F.trim("text") != "")),
    )

    if cfg.quality_floor is not None:
        if "quality" in cur.columns:
            q = F.col("quality")
        elif cfg.quality_weights is not None:
            from kafka_connector_s3_sink_spark.operators.quality import (
                classifier_score,
            )

            q = classifier_score(F.col("text"), cfg.quality_weights)
        else:
            q = text_ops.quality_score(F.col("text"))
        cur = record("quality_floor", cur.filter(q >= cfg.quality_floor))

    rebuilt = dedup.remove_duplicate_paragraphs(cur)
    cur = record("paragraph_dedup", rebuilt.filter(F.trim("text") != ""))

    stripped = dedup.strip_duplicate_spans(
        cur, span_tokens=cfg.span_tokens, unpersist_registry=res.caches
    )
    cur = record(
        "span_surgery",
        stripped.withColumn("text", F.col("text_clean"))
        .drop("text_clean")
        .filter(F.trim("text") != ""),
    )

    arts = dedup.dedup_cascade_artifacts(
        cur,
        jaccard_threshold=cfg.jaccard_threshold,
        unpersist_registry=res.caches,
        max_band_df=cfg.max_band_df,
    )
    canon = arts.clusters.filter(F.col("is_canonical") == 1).select("doc_id")
    cur = record("near_dedup", cur.join(canon, "doc_id", "left_semi"))

    if benchmark is not None or benchmark_embeddings is not None:
        flag_sets = []
        if benchmark is not None:
            flag_sets.append(
                dedup.decontamination_matches(
                    cur,
                    benchmark,
                    min_overlap_ratio=cfg.decontam_overlap,
                    unpersist_registry=res.caches,
                ).select("corpus_id")
            )
            flag_sets.append(
                dedup.near_decontamination_matches(
                    cur,
                    benchmark,
                    jaccard_threshold=cfg.near_decontam_jaccard,
                    unpersist_registry=res.caches,
                ).select("corpus_id")
            )
        if benchmark_embeddings is not None:
            if cfg.embedding_col not in cur.columns:
                raise ValueError(
                    "benchmark_embeddings supplied but docs carry no "
                    f"{cfg.embedding_col!r} column"
                )
            flag_sets.append(
                dedup.semantic_decontamination_matches(
                    cur.select(
                        F.col("doc_id").alias("vec_id"),
                        F.col(cfg.embedding_col).alias("embedding"),
                    ),
                    benchmark_embeddings.select(
                        F.col("doc_id").alias("vec_id"),
                        F.col(cfg.embedding_col).alias("embedding"),
                    ),
                    dim=cfg.embedding_dim,
                    cosine_threshold=cfg.semantic_decontam_cosine,
                    unpersist_registry=res.caches,
                ).select("corpus_id")
            )
        flagged = flag_sets[0]
        for fs in flag_sets[1:]:
            flagged = flagged.unionByName(fs)
        cur = record(
            "decontam",
            cur.join(
                flagged.distinct().withColumnRenamed("corpus_id", "doc_id"),
                "doc_id",
                "left_anti",
            ),
        )

    if target_docs is not None or dsir_model_path is not None:
        if cfg.dsir_top_k is None:
            raise ValueError(
                "DSIR selection needs config.dsir_top_k alongside "
                "target_docs / dsir_model_path"
            )
        if target_docs is not None and dsir_model_path is not None:
            raise ValueError(
                "pass target_docs (in-memory fit) XOR dsir_model_path "
                "(persisted fit), not both"
            )
        gumbel_seed = f"{cfg.seed}:dsir-gumbel"
        if target_docs is not None:
            selected = selection.dsir_resample(
                cur,
                target_docs,
                k=cfg.dsir_top_k,
                seed=f"{cfg.seed}:dsir",
                gumbel_seed=gumbel_seed,
                unpersist_registry=res.caches,
            )
        else:
            selected = selection.dsir_resample_with_model(
                cur, dsir_model_path, k=cfg.dsir_top_k, gumbel_seed=gumbel_seed
            )
        record("selection", selected)
        cur = selected.drop("n_grams", "log_weight", "select_score")
    elif cfg.dsir_top_k is not None:
        raise ValueError(
            "config.dsir_top_k set but neither target_docs nor "
            "dsir_model_path supplied"
        )

    if cfg.domain_cap is not None:
        if "domain" not in cur.columns:
            if "url" not in cur.columns:
                raise ValueError(
                    "domain_cap configured but docs carry neither a "
                    "'domain' nor a 'url' column"
                )
            cur = cur.withColumn(
                "domain", url_ops.registrable_domain(F.col("url"))
            )
        cur = record(
            "domain_cap",
            sampling.cap_per_domain(
                cur,
                "domain",
                cfg.domain_cap,
                priority_col="quality" if "quality" in cur.columns else None,
                n_salts=cfg.n_salts,
            )
            .filter("kept")
            .drop("domain_rank", "kept"),
        )

    if cfg.mixture is not None and cfg.mixture_alpha is not None:
        raise ValueError(
            "pass mixture (explicit rate map) XOR mixture_alpha "
            "(temperature-fitted rates), not both"
        )
    # the selected/capped corpus feeds SEVERAL consumers from here — the
    # pii_totals aggregation (when redacting), the mixture-rates fit (a
    # collect), the split chain, and the pack chain (split and pack
    # subscribe to it inside ONE action, where exchange reuse does not
    # apply) — so without a cache the whole upstream ladder (quality →
    # paragraph rebuild → span surgery → cascade semi-join → decontam
    # anti-join) replays once per consumer. Materialize it once, ABOVE the
    # PII stage (r12): redaction is a row-local regex chain, so every
    # downstream consumer still rides this one cache, and collecting
    # pii_totals costs one aggregation job in BOTH modes instead of a lazy
    # replay of the ladder. Released by PretrainingResult.unpersist() like
    # the other internal caches. With persist_stages=True the last recorded
    # stage frame is already cached — no second copy.
    if not cfg.persist_stages:
        cur = dedup._materialize(cur)
        res.caches.append(cur)

    if cfg.redact_pii:
        # LAST text-mutating stage, deliberately after every fingerprint
        # consumer (cascade shingles, decontam n-grams, DSIR grams, the
        # domain cap's quality ranks are all computed on ORIGINAL text —
        # redaction must not shift dedup/decontam identity, and the
        # streaming ingest's persisted index stores raw-text fingerprints
        # this preset's results must stay comparable to) and before
        # mixture/split/pack, so no trainer-facing frame carries raw PII.
        # One pass: counts and the redacted text evaluate from the same
        # input row (the count expressions measure the progressively-
        # redacted text, exactly text.redact_pii_columns' contract), and
        # both read the materialized pre-mixture frame above.
        pii = text_ops.redact_pii_columns(F.col("text"))
        count_cols = [k for k in pii if k != "text_redacted"]
        flagged = cur.withColumns(dict(pii))
        res.pii_totals = flagged.agg(
            *[F.sum(F.col(k)).alias(k) for k in count_cols]
        )
        cur = record(
            "pii_redaction",
            flagged.withColumn("text", F.col("text_redacted")).drop(
                "text_redacted", *count_cols
            ),
        )
    if cfg.mixture is not None or cfg.mixture_alpha is not None:
        if cfg.source_col not in cur.columns:
            if cfg.derive_source_language:
                # the one-call multilingual build: group the mixture by
                # text.language_id_multi (30 languages, two-tier script +
                # function-word ID) when the corpus carries no source
                # column — Conneau et al. α-sampling then balances
                # low-resource languages directly. A narrow projection on
                # the already-materialized pre-mixture frame; the column
                # rides through split/pack untouched (packed output
                # projects its own columns).
                cur = cur.withColumn(
                    cfg.source_col, text_ops.language_id_multi(F.col("text"))
                )
            else:
                raise ValueError(
                    f"mixture configured but docs carry no {cfg.source_col!r} "
                    "column (set derive_source_language=True to group by "
                    "text.language_id_multi instead)"
                )
        rates = (
            dict(cfg.mixture)
            if cfg.mixture is not None
            else sampling.temperature_mixture_rates(
                cur,
                group_col=cfg.source_col,
                alpha=cfg.mixture_alpha,
                scale=cfg.mixture_scale,
                max_rate=cfg.mixture_max_rate,
            )
        )
        res.epoch_slots = _slots(rates)
        cur = record(
            "mixture",
            sampling.mixture_sample(
                cur,
                rates,
                source_col=cfg.source_col,
                seed=f"{cfg.seed}:mix",
                epoch_col="mix_epoch",
            ),
        )
    else:
        cur = cur.withColumn("mix_epoch", F.lit(0).cast("int"))

    # leakage-safe split: block on the cascade's CANDIDATE-pair components,
    # so a band-colliding pair whose Jaccard fell below the threshold (both
    # docs survive dedup) still lands in one split; docs with no candidate
    # pair are singletons and the assignment degenerates to hash_split
    split = sampling.cluster_safe_split(
        cur.select("doc_id").distinct(),
        arts.candidate_clusters.select("doc_id", "cluster_id"),
        cfg.splits,
        seed=f"{cfg.seed}:split",
    )

    # packing identity: composite string '<mix_epoch>:<doc_id>' — exact for
    # any doc_id type/width (see PretrainingResult docstring); the epoch
    # prefix gives each replica an independent stream position
    doc_id_type = docs.schema["doc_id"].dataType
    rep_id = F.concat_ws(
        ":", F.col("mix_epoch").cast("string"), F.col("doc_id").cast("string")
    ).alias("rep_id")
    token_count_col = None
    if cfg.bpe_merges is not None:
        cur = tokenizer.bpe_encode(cur, list(cfg.bpe_merges))
        token_count_col = "bpe_tokens"

    def build_rep(df: DataFrame) -> DataFrame:
        if token_count_col is not None:
            return df.select(rep_id, F.col("n_tokens").alias(token_count_col))
        return df.select(rep_id, "text")

    def pack_and_decode(rep: DataFrame, seed: str) -> DataFrame:
        return (
            packing.pack_sequences(
                rep,
                ctx_len=cfg.ctx_len,
                id_col="rep_id",
                seed=seed,
                per_doc_overhead=cfg.per_doc_overhead,
                token_count_col=token_count_col,
            )
            .withColumn(
                "mix_epoch",
                F.substring_index(F.col("rep_id"), ":", 1).cast("int"),
            )
            .withColumn(
                "doc_id",
                F.expr("substring(rep_id, instr(rep_id, ':') + 1)").cast(
                    doc_id_type
                ),
            )
        )

    out_cols = [
        "doc_id",
        "mix_epoch",
        "n_tokens",
        "pack_id",
        "pack_pos",
        "doc_offset",
        "seg_tokens",
        "split",
    ]
    if cfg.pack_per_split:
        # pack each split's replicas in an INDEPENDENT stream: no pack can
        # straddle the boundary, so every window is hole-free for its
        # loader (pack ids are per-split; the split column disambiguates).
        # One pack pass per split over only that split's docs — the total
        # packing work is unchanged, only partitioned by label. Measured and
        # REJECTED (r12 fresh-process ABAB, sf0.1 packio write): persisting
        # this join for the |splits| pack branches reads flat-to-worse
        # (nofix {47.6-83.1} vs fix {56.3-68.6}, overlapping) — the split
        # chain's shuffle map stages are reused across branches and the
        # candidate table is already cached, so the replay is cheap while
        # caching the text-bearing labeled frame costs a full corpus write
        # (the span-surgery persist lesson, SCALING.md r11/r12).
        labeled = cur.join(split, "doc_id")
        splits = cfg.splits or {"train": 0.9, "val": 0.05, "test": 0.05}
        parts = [
            pack_and_decode(
                build_rep(labeled.filter(F.col("split") == name)),
                seed=f"{cfg.seed}:pack:{name}",
            ).withColumn("split", F.lit(name))
            for name in splits
        ]
        packed = parts[0]
        for part in parts[1:]:
            packed = packed.unionByName(part)
        packed = packed.select(*out_cols)
    else:
        packed = (
            pack_and_decode(build_rep(cur), seed=f"{cfg.seed}:pack")
            .join(split, "doc_id")
            .select(*out_cols)
        )
    # record the packing mode IN the frame (pack_id column metadata) so a
    # downstream writer derives straddle-accounting keys from the data's
    # actual scope, not from a separately-carried flag that can mismatch
    packed = packed.withMetadata(
        "pack_id", {"pack_scope": "split" if cfg.pack_per_split else "global"}
    )
    record("packed", packed)
    res.packed = res.stages["packed"]
    res.pack_per_split = cfg.pack_per_split
    res.bpe_merges = cfg.bpe_merges
    res.bpe_vocab = cfg.bpe_vocab
    # the pipeline's own bpe_encode call passes no lowercase knob — the
    # result records the hard default the budgets were actually counted
    # under, and the stamp travels into <dest>/stats (r15)
    res.lowercase = True
    res.per_doc_overhead = cfg.per_doc_overhead
    res.ctx_len = cfg.ctx_len
    return res
