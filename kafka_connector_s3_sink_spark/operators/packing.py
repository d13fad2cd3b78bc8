"""Sequence packing and file compaction for training-data pipelines.

``pack_sequences`` maps a document corpus onto fixed-length training context
windows (the GPT-style concat-and-chunk formulation): documents are laid out
in a deterministic pseudo-random order, token positions are assigned by a
GLOBAL prefix sum, and each document is split across the context windows
(packs) it spans. The whole layout is declarative:

- the global prefix sum is the classic two-level formulation — a per-shard
  running-sum window (one hash shuffle) plus a shard-offset table of
  ``n_shards`` rows joined back by broadcast — never a single-partition
  window over the corpus;
- pack membership is ``explode(sequence(first_pack, last_pack))`` — each row
  fans out only to the packs it actually overlaps, so the output is
  O(tokens / ctx_len + docs) rows regardless of corpus size;
- ordering and sharding reuse ``sampling.shuffle_key`` / ``hash_bucket``
  (md5-derived), so the layout is reproducible run-to-run and the whole
  operator is oracle-checkable in DuckDB with the same expressions.

``compaction_plan`` / ``compact_parquet`` address the small-files problem an
incremental 100 TB ingest accumulates: plan target-size output groups over the
file-metadata listing (O(n_files) rows, not O(data)), then rewrite.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators.sampling import hash_bucket, shuffle_key
from kafka_connector_s3_sink_spark.operators.text import token_count, tokens_column


def pack_sequences(
    df: DataFrame,
    ctx_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "pack",
    n_shards: int = 32,
    per_doc_overhead: int = 0,
    token_count_col: str | None = None,
) -> DataFrame:
    """Assign every document its segments in fixed-``ctx_len`` training packs.

    Output grain: one row per (document, pack) overlap —
    ``doc_id, n_tokens, pack_id, pack_pos, doc_offset, seg_tokens`` where
    ``pack_pos`` is the segment's start slot inside the pack and
    ``doc_offset`` the first packed token's offset within the document.
    Zero-token documents pack nowhere and are dropped (documented; count them
    upstream with ``text.token_count`` if they must be accounted).

    Scale shape: one hash shuffle (shard window) + one broadcast join
    (``n_shards`` offset rows) + a narrow fan-out. The shard-offset window
    sorts ``n_shards`` rows on a single task — bounded by config, not data.

    ``per_doc_overhead`` models tokenizer framing (e.g. one EOS per
    document, or BOS+EOS = 2): each document occupies
    ``token_count + overhead`` slots in the stream, so pack boundaries and
    fill ratios match what the real tokenized corpus will produce. Default
    0 keeps raw-token semantics (and the oracle contract).

    ``token_count_col`` (r7) replaces the whitespace heuristic with a real
    per-document token count — e.g. ``n_tokens`` from
    ``tokenizer.bpe_encode`` — so pack budgets match the trained
    tokenizer's output exactly. Default ``None`` keeps the heuristic.
    """
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    if per_doc_overhead < 0:
        raise ValueError(
            f"per_doc_overhead must be >= 0, got {per_doc_overhead}"
        )
    did = F.col(id_col)
    count_expr = (
        F.col(token_count_col)
        if token_count_col is not None
        else token_count(F.col(text_col))
    )
    toks = (
        df.select(
            did,
            (count_expr.cast("long") + per_doc_overhead).alias(
                "n_tokens"
            ),
            (hash_bucket(did, seed) % n_shards).alias("_shard"),
            shuffle_key(did, seed).alias("_ord"),
        )
        .filter(F.col("n_tokens") > per_doc_overhead)
    )
    w_shard = (
        Window.partitionBy("_shard")
        .orderBy(F.col("_ord").asc(), did.asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = toks.withColumn("_cum", F.sum("n_tokens").over(w_shard))

    shard_totals = toks.groupBy("_shard").agg(F.sum("n_tokens").alias("_shard_toks"))
    w_off = (
        Window.orderBy(F.col("_shard").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = shard_totals.select(
        "_shard", F.coalesce(F.sum("_shard_toks").over(w_off), F.lit(0)).alias("_off")
    )

    placed = local.join(F.broadcast(offsets), "_shard").select(
        did,
        "n_tokens",
        (F.col("_off") + F.col("_cum") - F.col("n_tokens")).alias("_start"),
    )
    start, n = F.col("_start"), F.col("n_tokens")
    first_pack = F.floor(start / ctx_len)
    last_pack = F.floor((start + n - 1) / ctx_len)
    packed = placed.select(
        did,
        "n_tokens",
        "_start",
        F.explode(F.sequence(first_pack, last_pack)).alias("pack_id"),
    )
    seg_start = F.greatest(start, F.col("pack_id") * ctx_len)
    seg_end = F.least(start + n, (F.col("pack_id") + 1) * ctx_len)
    return packed.select(
        did,
        "n_tokens",
        "pack_id",
        (seg_start - F.col("pack_id") * ctx_len).alias("pack_pos"),
        (seg_start - start).alias("doc_offset"),
        (seg_end - seg_start).alias("seg_tokens"),
    )


def pack_stats(packed: DataFrame, ctx_len: int) -> DataFrame:
    """Per-pack rollup of a ``pack_sequences`` result: document count, packed
    tokens, and fill ratio (only the final pack may be partial — everything
    else is exactly ``ctx_len`` by construction, which this rollup proves)."""
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("seg_tokens").alias("pack_tokens"),
        )
        .withColumn("fill_ratio", F.col("pack_tokens") / F.lit(float(ctx_len)))
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    path_col: str = "path",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Group a file listing into target-size compaction bins: files in path
    order, a running byte total, and ``bin = floor(preceding_bytes / target)``
    — i.e. the bins are consecutive ``target_bytes`` byte-ranges of the
    concatenated stream, and each file lands in the bin containing its first
    byte. A non-last bin's total therefore deviates from ``target_bytes`` by
    at most one file size in either direction (a boundary-straddling file
    stays whole in the bin where it starts) — the same
    overshoot-by-one-element contract as Spark's ``maxRecordsPerFile``.

    The window runs over FILE METADATA (one row per file). A million-file
    listing is a few tens of MB — driver-trivial; partition the window by
    table/date directory if a single listing ever exceeds that."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    w = (
        Window.orderBy(F.col(path_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(bytes_col).over(w), F.lit(0))
    return files.select(
        F.col(path_col),
        F.col(bytes_col),
        F.floor(before / target_bytes).cast("int").alias("bin"),
    )


def _strip_scheme(col):
    """Normalize a file URI for equi-joining listings against
    ``input_file_name()``: drop the scheme and any authority slashes
    (``file:/x``, ``file:///x``, ``s3a://bucket/x`` all reduce to a stable
    suffix form)."""
    return F.regexp_replace(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "")


def list_files(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-metadata listing ``(path, bytes)`` of a directory tree via the
    Hadoop FileSystem client — storage-agnostic (``file:``, ``hdfs:``,
    ``s3a:``, anything with a Hadoop FS implementation), unlike
    ``os.path.getsize`` which only ever worked on a local mount. Hidden files
    (``_SUCCESS``, ``.crc``) are excluded, matching what a parquet scan reads.

    The iterator is driver-side and O(n_files) — the same documented bound as
    the sink manifest; a million-file listing is tens of MB."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(path, True)
    rows = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        rows.append((st.getPath().toString(), st.getLen()))
    return spark.createDataFrame(rows, "path string, bytes long")


def _bin_partition_keys(spark: SparkSession, n_bins: int) -> DataFrame:
    """A deterministic injective bin → shuffle-key mapping: for each of the
    ``n_bins`` hash partitions, probe (driver-trivially, O(n_bins) rows) for a
    long value that murmur3-hashes onto it — ``F.hash`` is the same Murmur3
    ``repartition(n, col)`` partitions by — so repartitioning on the remapped
    key lands every bin in its OWN partition, every run.

    Why not ``repartitionByRange`` on the dense bin id: range partitioning
    SAMPLES to pick boundaries, and its per-partition sampling seeds derive
    from RDD ids — session-history-dependent state — so on a low-cardinality
    key (bins ARE low-cardinality by design) an unlucky sample merges two bins
    into one partition and leaves another empty. Compaction output layout must
    be a pure function of the plan."""
    span = max(n_bins * 64, 64)
    while True:
        cand = spark.range(0, span).select(
            F.col("id").alias("_pkey"),
            F.pmod(F.hash(F.col("id")), F.lit(n_bins)).alias("_part"),
        )
        remap = cand.groupBy("_part").agg(F.min("_pkey").alias("_pkey"))
        if remap.count() == n_bins:
            # assign bins to covered partitions in partition order
            w = Window.orderBy(F.col("_part").asc())
            return remap.select(
                (F.row_number().over(w) - 1).alias("_bin"), "_pkey"
            )
        span *= 2  # vanishingly unlikely (n·e^-64); deterministic retry


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    listing: DataFrame | None = None,
) -> int:
    """Rewrite a directory of small parquet files into ~``target_bytes``
    outputs, grouped by the byte-range bins ``compaction_plan`` assigns over
    the file listing (NOT a blind round-robin): every source file's rows land
    in its planned bin, bins are co-located one-per-output-partition via a
    deterministic hash repartition on a remapped bin key (see
    ``_bin_partition_keys`` — sampling-free, so the output layout is a pure
    function of the plan), and each partition writes one file. Keeping the
    plan authoritative means the listing (sizes from the Hadoop FS client —
    object-store safe) fully determines the output layout, so the same plan
    can be audited, diffed, or executed elsewhere.

    ``listing`` overrides the FS listing (e.g. a pre-collected metadata table
    on a store where listing is expensive). Returns the number of bins
    written."""
    listing = list_files(spark, src_dir) if listing is None else listing
    plan = compaction_plan(listing, target_bytes).select(
        _strip_scheme(F.col("path")).alias("_file"), F.col("bin").alias("_bin")
    )
    n_bins = plan.agg(F.max("_bin")).first()[0]
    if n_bins is None:
        raise ValueError(f"no files to compact under {src_dir}")
    n_bins = int(n_bins) + 1
    plan = plan.join(F.broadcast(_bin_partition_keys(spark, n_bins)), "_bin")
    df = (
        spark.read.parquet(src_dir)
        .withColumn("_file", _strip_scheme(F.input_file_name()))
        .join(F.broadcast(plan), "_file")
    )
    (
        df.repartition(n_bins, F.col("_pkey"))
        .drop("_file", "_bin", "_pkey")
        .write.mode("overwrite")
        .parquet(dest_dir)
    )
    return n_bins


def assemble_packs(
    packed: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pack_key: tuple[str, ...] = ("pack_id",),
) -> DataFrame:
    """Materialize each training pack's token window from the packed
    segment map (r13) — the end-to-end proof that ``pack_sequences``'
    ``doc_offset``/``seg_tokens`` actually address the right tokens, and
    the operator a trainer-side inspector uses to eyeball a context
    window: ``(pack_id, pack_tokens, pack_text)`` where ``pack_text`` is
    the pack's whitespace tokens in slot order.

    Whitespace-token model only: budgets must be the heuristic counts with
    ``per_doc_overhead=0`` (framing slots and BPE budgets address
    tokenizer ids, not text positions — ``assemble_bpe_packs`` below
    reconstructs those via the frozen merge list). Raises nothing itself; a mismatched layout shows up
    as ``pack_tokens`` ≠ the layout's ``seg_tokens`` sum, which
    ``tests`` and the driver gate pin.

    Scale shape: ONE equi-join on ``id_col`` (the packed map is a few rows
    per document) + ONE aggregation shuffle on ``pack_id``; the slice and
    the in-pack ordering (``array_sort`` over (pack_pos, slice) structs —
    pack positions are unique within a pack) are row-local. A production
    loader normally streams the one-pack-one-file layout instead
    (``write_packed_corpus``); this operator is for verification and
    ad-hoc inspection, where a shuffle per call is fine.

    ``pack_key`` names the columns that identify ONE pack. The default
    suits a single packing stream; pass ``("batch_id", "pack_id")`` for a
    streaming-ingest table (pack ids are per-epoch, so assembling a
    multi-epoch read under the default would merge colliding ids across
    epochs — same key rule as ``verify_pack_layout``).

    Doc-join contract: any non-``pack_id`` column of ``pack_key`` that
    ``docs`` also carries (e.g. ``batch_id``) joins ALONGSIDE ``id_col``,
    so a corpus that re-admits the same ``id_col`` in a later epoch (an
    index rebuild replaying a document) resolves each segment to ITS
    epoch's text instead of fanning out to every epoch's copy — which
    would silently inflate ``pack_tokens`` and corrupt ``pack_text``.
    When ``docs`` has no such column, ``docs`` must be unique per
    ``id_col`` (the single-stream writers guarantee this; a duplicate
    shows up as ``pack_tokens`` > the stats table's ``n_tokens`` under
    ``verify_pack_layout``)."""
    doc_keys = [id_col] + [
        k for k in pack_key if k != "pack_id" and k in docs.columns
    ]
    seg = packed.join(docs.select(*doc_keys, text_col), doc_keys).select(
        *pack_key,
        "pack_pos",
        F.slice(
            tokens_column(F.col(text_col)),
            F.col("doc_offset").cast("int") + 1,
            F.col("seg_tokens").cast("int"),
        ).alias("_seg"),
    )
    return seg.groupBy(*pack_key).agg(
        F.sum(F.size("_seg")).alias("pack_tokens"),
        F.concat_ws(
            " ",
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pack_pos", "_seg"))
                    ),
                    lambda s: s["_seg"],
                )
            ),
        ).alias("pack_text"),
    )


def assemble_bpe_packs(
    packed: DataFrame,
    docs: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
    pack_key: tuple[str, ...] = ("pack_id",),
    lowercase: bool = True,
    per_doc_overhead: int = 0,
    eod_token: str = "<|endofdoc|>",
) -> DataFrame:
    """``assemble_packs`` for tokenizer-true layouts (r14, VERDICT item 5):
    reconstruct each training pack's context window when the corpus was
    packed under BPE budgets (``pack_sequences(token_count_col=...)`` fed
    by ``tokenizer.bpe_encode`` — what both production ladders do via
    ``PretrainingConfig.bpe_merges`` / ``IngestConfig.bpe_merges``). The
    whitespace-only ``assemble_packs`` refuses these layouts by contract;
    this operator re-encodes each document with the SAME frozen merge
    list, so ``doc_offset``/``seg_tokens`` address real tokenizer
    positions and the window is sliced from the token stream itself.

    Output per pack: ``pack_tokens`` (slots actually reconstructed),
    ``layout_tokens`` (the layout's own ``sum(seg_tokens)``),
    ``n_bad_segments`` (segments whose document re-encoded to a DIFFERENT
    stream length than the layout's ``n_tokens`` budgeted — nonzero iff
    the merge list / ``lowercase`` / ``per_doc_overhead`` passed here
    differ from what the writer packed with; ``pack_tokens`` alone can
    read clean under a too-long re-encode because the slice still
    addresses ``seg_tokens`` positions), ``pack_window`` (the BPE tokens
    in slot order — what a trainer's data loader would see), and
    ``pack_text`` (the window decoded back to text via
    ``tokenizer.bpe_decode_column``; end-of-word markers become spaces,
    and a window that starts or ends mid-word decodes to the partial
    word, faithfully). Trust a reconstruction only when
    ``n_bad_segments = 0`` and ``pack_tokens = layout_tokens`` everywhere.

    ``per_doc_overhead`` must equal the writer's: each document occupies
    ``n_tokens + overhead`` slots in the stream, so the overhead slots
    are materialized as trailing ``eod_token`` framing tokens before
    slicing — the same slot arithmetic ``pack_sequences`` budgeted.

    Scale shape: identical to ``assemble_packs`` — the re-encode is the
    Arrow-batched ``bpe_encode`` (no shuffle, per-task word cache), then
    ONE equi-join + ONE ``pack_key`` aggregation. Epoch-aware doc join:
    same rule as ``assemble_packs`` (non-``pack_id`` ``pack_key`` columns
    present in both frames join alongside ``id_col``). Verification /
    inspection operator; the production loader streams the
    one-pack-one-file layout instead."""
    from kafka_connector_s3_sink_spark.operators import tokenizer

    doc_keys = [id_col] + [
        k for k in pack_key if k != "pack_id" and k in docs.columns
    ]
    enc = tokenizer.bpe_encode(
        docs.select(*doc_keys, text_col),
        list(merges),
        text_col=text_col,
        lowercase=lowercase,
    )
    toks = F.col("tokens")
    if per_doc_overhead > 0:
        toks = F.concat(
            toks, F.array_repeat(F.lit(eod_token), per_doc_overhead)
        )
    seg = packed.join(
        enc.select(*doc_keys, toks.alias("_toks")), doc_keys
    ).select(
        *pack_key,
        "pack_pos",
        "seg_tokens",
        (F.size("_toks") != F.col("n_tokens")).cast("int").alias("_bad"),
        F.slice(
            F.col("_toks"),
            F.col("doc_offset").cast("int") + 1,
            F.col("seg_tokens").cast("int"),
        ).alias("_seg"),
    )
    window = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pack_pos", "_seg"))),
            lambda s: s["_seg"],
        )
    )
    return seg.groupBy(*pack_key).agg(
        F.sum(F.size("_seg")).alias("pack_tokens"),
        F.sum("seg_tokens").alias("layout_tokens"),
        F.sum("_bad").alias("n_bad_segments"),
        window.alias("pack_window"),
    ).withColumn(
        "pack_text",
        F.trim(
            F.regexp_replace(
                F.concat_ws("", F.col("pack_window")),
                tokenizer.END_OF_WORD,
                " ",
            )
        ),
    )


def verify_pack_layout(
    spark: SparkSession,
    df: DataFrame,
    stats_path: str,
    key_col: str,
    id_col: str = "doc_id",
    writer_name: str = "the pack writer",
    key_value=None,
    allow_missing_stats: bool = False,
) -> None:
    """The verifying half of the pack-write handoff contract, shared by
    ``pretraining.read_packed_corpus`` (key = ``split``) and
    ``streaming.ingest.read_ingest_packs`` (key = ``batch_id``) so the two
    trainer-facing readers cannot drift (r13, VERDICT item 5). Raises
    ``ValueError`` on the first violation; returns None when the layout
    under ``df`` agrees with the stats table at ``stats_path``:

    - **id-column agreement** (checked FIRST): if the stats table carries an
      ``id_col`` column (stamped by the ingest writer), it must equal the
      ``id_col`` the caller wants verified — a wrong column fails with a
      named-column error instead of a confusing stats mismatch;
    - **pack-file locality**: every (``key_col``, pack_id) must live in
      exactly ONE parquet file — the writers' ``repartition(pack_id)``
      contract that lets a loader stream each context window without a
      shuffle; checked via ``input_file_name`` + one aggregation;
    - **slot bounds** (r14): when the stats table stamps ``ctx_len``,
      per-key ``max(pack_pos + seg_tokens)`` must fit it — the one
      corruption class the count/sum comparisons cannot see (a shifted
      ``pack_pos`` leaves every stored total intact while the streamed
      window overflows its context); folded into the same aggregation
      pass as the stats recompute;
    - **stats agreement**: per-key ``n_packs / n_docs / n_segments /
      n_tokens`` recomputed from the data must equal the stored stats.
      Keys present in the data but missing from the stats table raise a
      DISTINCT in-flight/interrupted-write error (packs land before stats
      inside one epoch write) unless ``allow_missing_stats=True``, which
      skips them — the safe mode for verifying completed epochs while a
      stream is live; keys in the stats table with no data raise a distinct
      lost-files error.

    Each check is one bounded pass over the (possibly partition-pruned)
    ``df`` — run once at training startup, then re-read without verify."""
    from pyspark.errors import AnalysisException

    try:
        stats_df = spark.read.parquet(stats_path)
    except AnalysisException as exc:  # PATH_NOT_FOUND
        # the first epoch's packs land BEFORE its stats table exists at
        # all — surface the same in-flight/interrupted-write diagnosis a
        # stats-less LATER epoch gets, not a raw path error (a corrupted
        # table still raises its own execution error, not this one)
        raise ValueError(
            f"no stats table at {stats_path} — an in-flight or interrupted "
            f"first write (packs land before stats inside one epoch), or "
            f"the wrong directory; wait for {writer_name} to finish the "
            "epoch, or check the path"
        ) from exc
    if "id_col" in stats_df.columns:
        # scope the stamp check to the keys actually being verified: a
        # destination whose epochs were written under DIFFERENT id_col
        # configs must still verify an epoch whose own stamp matches
        # (r13 ADVICE) — the whole-table collect would fail every epoch
        stamp_src = (
            stats_df.filter(F.col(key_col) == key_value)
            if key_value is not None and key_col in stats_df.columns
            else stats_df
        )
        stamped = {
            r["id_col"]
            for r in stamp_src.select("id_col").distinct().collect()
            if r["id_col"] is not None
        }
        if stamped and stamped != {id_col}:
            raise ValueError(
                f"stats table at {stats_path} was written with "
                f"id_col={sorted(stamped)} but the reader was asked to "
                f"verify id_col={id_col!r} — pass the id column the writer's "
                "config used"
            )
    broken = (
        df.withColumn("_file", F.input_file_name())
        .groupBy(key_col, "pack_id")
        .agg(F.countDistinct("_file").alias("_nf"))
        .filter(F.col("_nf") > 1)
        .limit(5)
        .collect()
    )
    if broken:
        names = [(r[key_col], r["pack_id"]) for r in broken]
        raise ValueError(
            f"pack-file locality broken: packs {names} span multiple files "
            "(write contract: one pack's segments land in one file — was "
            f"the directory rewritten outside {writer_name}?)"
        )
    agg_rows = (
        df.groupBy(key_col)
        .agg(
            F.countDistinct("pack_id").alias("n_packs"),
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("seg_tokens").alias("n_tokens"),
            F.max(F.col("pack_pos") + F.col("seg_tokens")).alias("_max_slot"),
        )
        .collect()
    )
    recomputed = {
        r[key_col]: (r["n_packs"], r["n_docs"], r["n_segments"], r["n_tokens"])
        for r in agg_rows
    }
    stored_rows = [
        r
        for r in stats_df.collect()
        if key_value is None or r[key_col] == key_value
    ]
    stored = {
        r[key_col]: (r["n_packs"], r["n_docs"], r["n_segments"], r["n_tokens"])
        for r in stored_rows
    }
    # slot-bound check (r14): the count/sum comparisons above cannot see a
    # corrupted SLOT MAP — shifting one segment's pack_pos leaves every
    # stored total intact while the window a loader streams overflows its
    # context. When the writer stamped ctx_len, pin per key:
    # max(pack_pos + seg_tokens) <= ctx_len. Same single aggregation pass
    # (folded into the stats recompute above).
    if "ctx_len" in stats_df.columns:
        stored_ctx = {
            r[key_col]: r["ctx_len"]
            for r in stored_rows
            if r["ctx_len"] is not None
        }
        overflow = {
            r[key_col]: (r["_max_slot"], stored_ctx[r[key_col]])
            for r in agg_rows
            if r[key_col] in stored_ctx
            and r["_max_slot"] > stored_ctx[r[key_col]]
        }
        if overflow:
            detail = "; ".join(
                f"{k}: max slot {m} > ctx_len {c}"
                for k, (m, c) in sorted(overflow.items())
            )
            raise ValueError(
                f"pack slot map overflows the stamped context length "
                f"({key_col}-keyed): {detail} — a corrupted or rewritten "
                "slot map (pack_pos/seg_tokens no longer fit the windows "
                f"{writer_name} budgeted)"
            )
    missing = sorted(set(recomputed) - set(stored))
    extra = sorted(set(stored) - set(recomputed))
    if missing and not allow_missing_stats:
        raise ValueError(
            f"{key_col} values {missing} have packed data but no stats row "
            f"at {stats_path} — an in-flight or interrupted write (packs "
            f"land before stats inside one epoch); verify one completed "
            f"{key_col} via the key filter, or pass allow_missing_stats="
            "True to check only the completed ones"
        )
    if extra:
        raise ValueError(
            f"stats table has rows for {key_col} values {extra} with no "
            "packed data — the packs directory lost files after the stats "
            "were written"
        )
    disagree = {
        k: (recomputed[k], stored[k])
        for k in recomputed
        if k in stored and recomputed[k] != stored[k]
    }
    if disagree:
        detail = "; ".join(
            f"{k}: recomputed={a} stored={b}"
            for k, (a, b) in sorted(disagree.items())
        )
        raise ValueError(
            "packed data disagrees with the stats table "
            f"({key_col}-keyed): {detail} — partial write or stats from a "
            "different version"
        )


@contextmanager
def locality_write_conf(spark: SparkSession):
    """Temporarily clear ``spark.sql.files.maxRecordsPerFile`` around a
    pack-layout write. The locality contract (``repartition(pack_id)`` →
    one pack's segments in one file) silently breaks if the session caps
    records per file — the task's output splits into several files and the
    verifying reader hard-fails on a write the writer itself produced
    (r13, ADVICE item 2). Same save/restore pattern as the ingest writer's
    ``partitionOverwriteMode`` guard."""
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key, "0")
    spark.conf.set(key, "0")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
