"""Incremental deduplication against a persisted fingerprint index.

A 100 TB corpus is not deduplicated from scratch per crawl: each new batch is
checked against an on-disk INDEX of everything already accepted, and only the
survivors (plus their fingerprints) are appended. The index is three bucketed
tables (Spark native bucketing, ``bucketBy`` + ``saveAsTable``), each
additionally PARTITIONED by the ``batch_id`` that introduced the rows:

- ``<prefix>_hashes``   (content_hash, doc_id)        bucketed by content_hash
- ``<prefix>_bands``    (doc_id, band_id, band_hash)  bucketed by band_hash
- ``<prefix>_shingles`` (doc_id, shingle)             bucketed by doc_id

plus, when the corpus carries embeddings, an optional SEMANTIC pair
(``build_embedding_index`` / ``append_to_embedding_index``) under the same
partition/bucket contract:

- ``<prefix>_embsig``   (doc_id, band, bucket)        bucketed by bucket
- ``<prefix>_embvec``   (doc_id, embedding)           bucketed by doc_id
- ``<prefix>_embparams`` — one pinned row (dim, n_bands, band_planes):
  appends must match it and the decontam reader derives its hyperplanes
  from it, so signatures can never silently mix plane geometries

(r5 format change: the former ``<prefix>_sizes`` table is gone — a history
doc's shingle COUNT is an O(1) aggregation over the shingle rows the verify
step already semi-joins out of ``_shingles``, so persisting it separately
bought nothing and cost a fourth bucketed write per epoch.)

Bucketing is the scale story: every per-batch join hits the index ON ITS
BUCKET KEY, so the multi-TB index side is read pre-partitioned — no Exchange
above its scan (verified by plan-shape test); only the new batch (small by
definition) shuffles into the bucket layout. A bucketed scan groups same-bucket
files across ``batch_id`` partition directories, so the partition column does
not change the join plan — it exists for idempotence and lineage:

- **Idempotent appends** (the reference's delivery contract — idempotent
  object overwrite per `S3SinkTask.java:121-144`, `README.md:101-133`):
  ``append_to_index`` skips any table that already contains the batch's
  partition, so a retried/replayed batch cannot double-insert, and a PARTIAL
  failure (some tables written, some not) is repaired by the retry — only the
  missing tables are filled. The presence probe is partition-pruned (a
  directory listing, never a data scan).
- **Lineage/rollback**: a bad crawl's fingerprints are one
  ``ALTER TABLE ... DROP PARTITION`` away from gone.

Fingerprints reuse the exact expressions of the batch dedup operators
(``dedup.exact_dedup`` hashing, ``dedup.minhash_bands``, ``dedup.shingle_rows``),
so batch and incremental classification can never drift.

Intra-batch duplicates are out of scope here by design: run the batch cascade
(``dedup.dedup_cascade``) over the new batch first, then classify its
survivors against history with ``incremental_dedup``, then
``append_to_index`` the keepers.

Catalog hygiene: pass ``database`` to namespace the three tables under a
schema (created if missing) — two pipelines sharing a metastore then cannot
collide on a bare prefix, and ``drop_dedup_index`` only ever drops inside
that namespace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import dedup
from kafka_connector_s3_sink_spark.operators.dedup import (
    minhash_bands,
    shingle_rows,
)
from kafka_connector_s3_sink_spark.operators.text import normalized_text
from kafka_connector_s3_sink_spark.functions.numeric import stable_round

_TABLES = ("hashes", "bands", "shingles")

# fallback unpersist registry for incremental_dedup callers that pass none:
# flushed at the next registry-less call, bounding the cache leak to one
# call's frames (see incremental_dedup)
_ORPHAN_CACHES: list = []

_BUCKET_KEYS = {
    "hashes": "content_hash",
    "bands": "band_hash",
    "shingles": "doc_id",
    # semantic rung (optional fourth/fifth tables — build_embedding_index):
    "embsig": "bucket",
    "embvec": "doc_id",
}


def _qualified(prefix: str, name: str, database: str | None = None) -> str:
    """Catalog identifier for one index table, optionally schema-qualified."""
    base = f"{prefix}_{name}"
    return f"{database}.{base}" if database else base


def _ensure_database(spark: SparkSession, database: str | None) -> None:
    if database:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")


def _corpus_side(
    spark: SparkSession, prefix: str, name: str, database: str | None
) -> DataFrame:
    """One index table as the corpus side of a ``dedup`` decontamination
    kernel: ``doc_id`` renamed to ``corpus_id``."""
    table = spark.table(_qualified(prefix, name, database))
    return table.withColumnRenamed("doc_id", "corpus_id")


def _fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
    k: int,
) -> dict[str, DataFrame]:
    """The three index projections of a document set — one scan each, all
    derived from the same normalize/tokenize expressions as the batch ops.
    ``bands`` comes back persisted (``dedup._materialize``) — callers that
    run their actions eagerly must unpersist it (see ``_unpersist``)."""
    hashes = df.select(
        F.md5(normalized_text(F.col(text_col))).alias("content_hash"),
        F.col(id_col).alias("doc_id"),
    )
    bands = minhash_bands(df, id_col, text_col, num_hashes, band_size, k)
    sh = shingle_rows(df, id_col, text_col, k)
    return {"hashes": hashes, "bands": bands, "shingles": sh}


def _unpersist(parts: dict[str, DataFrame]) -> None:
    """Release the cached intermediates of a fingerprint set. In a long-lived
    incremental ingest loop the per-batch caches would otherwise accumulate
    for the life of the SparkSession (disk blocks are not LRU-evicted)."""
    parts["bands"].unpersist()


def _write_part(
    part: DataFrame,
    table: str,
    name: str,
    location_dir: str,
    num_buckets: int,
    batch_id: str,
    mode: str,
) -> None:
    key = _BUCKET_KEYS[name]
    if batch_id is not None:  # None: caller already carries a batch_id column
        part = part.withColumn("batch_id", F.lit(batch_id))
    (
        part.write.mode(mode)
        .option("path", location_dir)
        .partitionBy("batch_id")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def build_dedup_index(
    df: DataFrame,
    prefix: str,
    location: str,
    num_buckets: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    mode: str = "overwrite",
    batch_id: str = "base",
    database: str | None = None,
) -> None:
    """Materialize the fingerprint index for an accepted corpus.

    ``num_buckets`` is the lifetime parallelism/pruning grain of the index —
    size it for the END-STATE corpus (buckets can't be renumbered without a
    rewrite; at 100 TB think thousands, here 8 keeps local tests honest)."""
    _ensure_database(df.sparkSession, database)
    parts = _fingerprints(df, id_col, text_col, num_hashes, band_size, k)
    try:
        for name, part in parts.items():
            _write_part(
                part,
                _qualified(prefix, name, database),
                name,
                f"{location}/{prefix}_{name}",
                num_buckets,
                batch_id,
                mode,
            )
    finally:
        _unpersist(parts)


def _batch_present(spark: SparkSession, table: str, batch_id: str) -> bool:
    """Has this batch already been appended to ``table``? ``batch_id`` is a
    partition column, so this is partition pruning — a catalog/FS listing
    probe, never a scan of index data. A table that doesn't exist yet holds
    no batches (the embedding tables are created lazily by the first
    append when no ``build_embedding_index`` base run preceded them)."""
    if not spark.catalog.tableExists(table):
        return False
    return (
        spark.table(table).filter(F.col("batch_id") == batch_id).limit(1).count()
        > 0
    )


def append_to_index(
    df: DataFrame,
    prefix: str,
    location: str,
    num_buckets: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    batch_id: str = "batch",
    database: str | None = None,
) -> None:
    """Append a batch's accepted documents to an existing index (same bucket
    spec — Spark appends new per-bucket files, no rewrite of history).

    IDEMPOTENT per ``batch_id``: each of the three tables is only written if it
    does not already hold this batch's partition, so replaying a batch after a
    failure (the at-least-once delivery case) cannot double-insert, and a
    partial failure is healed by the retry — exactly the reference's
    idempotent-overwrite delivery story (`S3SinkTask.java:121-144`) applied to
    the index. Callers MUST pass a ``batch_id`` that is stable across retries
    of the same batch and unique across distinct batches (e.g. the streaming
    epoch id)."""
    spark = df.sparkSession
    _ensure_database(spark, database)
    parts = _fingerprints(df, id_col, text_col, num_hashes, band_size, k)
    try:
        for name, part in parts.items():
            table = _qualified(prefix, name, database)
            if _batch_present(spark, table, batch_id):
                continue
            _write_part(
                part,
                table,
                name,
                f"{location}/{prefix}_{name}",
                num_buckets,
                batch_id,
                "append",
            )
    finally:
        _unpersist(parts)


def incremental_dedup(
    new_docs: DataFrame,
    prefix: str,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    database: str | None = None,
    unpersist_registry: list | None = None,
    exclude_batch_id: str | None = None,
    max_band_df: int | None = None,
    exclude_batch_docs: bool = False,
) -> DataFrame:
    """Classify a new batch against the persisted index: one row per new doc,
    ``status`` ∈ {'exact_dup', 'near_dup', 'keep'}, ``dup_of`` the matched
    history doc (lowest id on hash ties, highest-jaccard then lowest id for
    near), ``jaccard`` for near matches (null otherwise).

    Join ladder, each hitting the index on its bucket key:
    1. content_hash equi-join vs ``_hashes``  → exact duplicates out.
    2. LSH band equi-join vs ``_bands``       → candidate (new, hist) pairs.
    3. shingle join vs ``_shingles`` for candidates only (history set
       sizes aggregate off the same semi-joined rows)
       (semi-join pushdown on the bucketed doc_id) → exact Jaccard verify.
    Work scales with |batch| and |collisions|, never with |history|.

    The batch-side band fingerprints are persisted (reused across plan
    branches); pass ``unpersist_registry`` (a list) to collect them so the
    caller can ``.unpersist()`` each entry once the result is materialized —
    required in long-lived ingest loops, where per-batch caches otherwise
    accumulate for the session lifetime.

    ``exclude_batch_id`` makes a retried streaming epoch classify IDENTICALLY
    to its first attempt: pass the epoch's own batch id and the index reads
    filter that partition out (partition pruning — a listing-level skip), so
    a partial failure AFTER ``append_to_index`` cannot make the replay see
    the batch's own fingerprints and mark every keeper a dup of itself. The
    classify → append → write cycle becomes idempotent end-to-end (the
    reference's flush-cycle contract, `S3SinkTask.java:121-144`).

    ``max_band_df`` is the hot-band guard (same idea as the shingle df-cap
    in ``dedup.ngram_jaccard_dupes``): a band shared by B batch docs and H
    history docs emits B×H candidate pairs on ONE join key — with
    boilerplate-heavy corpora (site templates, license headers) H can be
    millions and the band join becomes the straggler. The cap drops bands
    whose HISTORY frequency exceeds it before the join, bounding any key's
    fan-out at B×cap. Cost: one aggregation over the bands table that rides
    its bucket layout (grouping on a superset of the bucket key — no
    Exchange). Semantics: documents whose every shared band is hot classify
    'keep' (bounded recall loss on mass-duplicated boilerplate — exactly the
    content the exact pass and the quality filters should be eating first);
    default ``None`` keeps exact LSH semantics.

    ``exclude_batch_docs`` is the belt-and-suspenders replay guard for
    streaming callers: drop history rows whose ``doc_id`` appears IN this
    batch before classifying. ``exclude_batch_id`` already makes a replayed
    epoch blind to its own fingerprints — but only while those fingerprints
    still live under the epoch's partition; if ``compact_dedup_index`` folded
    the epoch (see its ``protect_batch_ids``), the partition filter has
    nothing to prune and every keeper would classify exact_dup of itself.
    The id guard is partition-agnostic: batch ids are small, so each of the
    exclusions is a broadcast anti-join (no extra shuffle). In normal
    operation ids are globally unique and the guard removes nothing."""
    spark = new_docs.sparkSession
    if not jaccard_threshold > 0:
        # the zero-intersection fast path (null jaccard → filtered) is only
        # equivalent to an explicit 0-score when the threshold is positive;
        # a 0 threshold would also be semantically useless (every band
        # collision would classify near_dup)
        raise ValueError("jaccard_threshold must be > 0")
    batch_ids = (
        new_docs.select(F.col(id_col).alias("doc_id")) if exclude_batch_docs else None
    )

    def _idx(name: str) -> DataFrame:
        t = spark.table(_qualified(prefix, name, database))
        if exclude_batch_id is not None:
            t = t.filter(F.col("batch_id") != exclude_batch_id)
        if batch_ids is not None:
            t = t.join(F.broadcast(batch_ids), "doc_id", "left_anti")
        return t

    # Callers that pass no registry get the module-internal one, flushed on
    # re-entry (the previous call's result is materialized by then): without
    # this, every registry-less call leaked its five persisted frames for the
    # session lifetime (cached blocks are not LRU-evicted).
    registry = unpersist_registry
    if registry is None:
        for _c in _ORPHAN_CACHES:
            _c.unpersist()
        _ORPHAN_CACHES.clear()
        registry = _ORPHAN_CACHES

    def _cache(df: DataFrame) -> DataFrame:
        # the classification DAG fans each of these small frames into 2-4 plan
        # branches (union arms, anti-joins, semi-joins); without caching, every
        # branch re-runs the md5/shingle/minhash expression chains upstream —
        # measured 11s → ~3s at sf0.1. Registered for caller unpersist.
        df = df.persist()
        registry.append(df)
        return df

    hashes = _idx("hashes")
    idx_bands = _idx("bands")
    idx_sh = _idx("shingles")

    if max_band_df is not None:
        hot = (
            idx_bands.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_band_df)
            .select("band_id", "band_hash")
        )
        idx_bands = idx_bands.join(hot, ["band_id", "band_hash"], "left_anti")

    base = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.md5(normalized_text(F.col(text_col))).alias("content_hash"),
    )

    exact = _cache(
        base.join(hashes.withColumnRenamed("doc_id", "_hist_id"), "content_hash")
        .groupBy("doc_id")
        .agg(F.min("_hist_id").alias("dup_of"))
        .select(
            "doc_id",
            F.lit("exact_dup").alias("status"),
            "dup_of",
            F.lit(None).cast("double").alias("jaccard"),
        )
    )

    rest = _cache(base.join(exact.select("doc_id"), "doc_id", "left_anti"))

    # registered on `registry` (not the caller parameter) so registry-less
    # calls still flush it through _ORPHAN_CACHES on re-entry
    new_bands = minhash_bands(
        rest, "doc_id", "text", num_hashes, band_size, k,
        unpersist_registry=registry,
    )
    cands = _cache(
        new_bands.alias("n")
        .join(
            idx_bands.alias("h"),
            (F.col("n.band_hash") == F.col("h.band_hash"))
            & (F.col("n.band_id") == F.col("h.band_id")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("h.doc_id").alias("hist_id")
        )
        # r6 plan trim: repartition on new_id BEFORE the pair dedup —
        # hashpartitioning(new_id) satisfies the (new_id, hist_id) clustering
        # (subset rule), so the dedup aggregate adds no Exchange of its own,
        # and every downstream new_id-keyed consumer (the new_sh join, the
        # verify aggregations) reuses this one shuffle. Per-new_id fan-out is
        # bounded by the band-collision guard (max_band_df), so the coarser
        # key is not a skew hazard.
        .repartition("new_id")
        .dropDuplicates(["new_id", "hist_id"])
    )

    # verify candidates with exact n-gram Jaccard: new-side shingles computed,
    # history-side shingles read from the index for candidate docs only (both
    # restrictions are SEMI joins — no distinct pre-aggregation shuffle; the
    # join operator dedups its probe side for free). Set sizes never get their
    # own scan or groupBy ladder:
    #   - the pair⋈new-shingle join replicates the new doc's COMPLETE shingle
    #     set per candidate pair, so count(*) per (new_id, hist_id) IS n1, and
    #     a LEFT join against the history shingles marks the intersection in
    #     the same pass — one aggregation yields n1 and n_inter together
    #     (r5 plan trim: the separate new_sizes groupBy+join is gone);
    #   - h_sh is the candidate docs' complete history shingle set, and its
    #     per-doc count (n2) rides the semi join's bucketed doc_id clustering
    #     — no Exchange on the index side.
    new_sh = shingle_rows(
        rest.join(
            cands.select(F.col("new_id").alias("doc_id")), "doc_id", "left_semi"
        ),
        "doc_id",
        "text",
        k,
    )  # single consumer since the n1 fold — no cache needed
    # history set size (n2) rides each shingle row as a window count over the
    # semi join's bucketed doc_id clustering (Sort only, no Exchange) — r6
    # plan trim: the former separate h_sizes aggregate + hist_id join re-keyed
    # the verify stream to hist_id right before `near` needed new_id again,
    # costing an SMJ fallback pair AND a fresh Exchange for the best-match
    # aggregate. With n2 inlined, the single repartition(new_id) below feeds
    # the pair aggregate (subset-clustering) and `near` (equal keys) alike.
    h_sh = idx_sh.join(
        cands.select(F.col("hist_id").alias("doc_id")), "doc_id", "left_semi"
    ).withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))

    scored = (
        cands.join(
            new_sh.select(F.col("doc_id").alias("new_id"), F.col("shingle").alias("s1")),
            "new_id",
        )
        .join(
            h_sh.select(
                F.col("doc_id").alias("_h2"),
                F.col("shingle").alias("s2"),
                F.col("n_sh"),
            ),
            (F.col("hist_id") == F.col("_h2")) & (F.col("s1") == F.col("s2")),
            "left",
        )
        .repartition("new_id")
        .groupBy("new_id", "hist_id")
        .agg(
            # cands is distinct and shingles are distinct per doc, so plain
            # counts suffice: count(*) is n1 and count(s2) — non-null only on
            # intersection hits — is n_inter; n_sh rides intersection rows
            # (constant per hist doc, so max = the value). A pair with ZERO
            # intersection never sees n2 — its jaccard is null and the
            # threshold filter drops it, which is value-identical to the old
            # explicit 0-score for any threshold > 0 (enforced below).
            F.count(F.lit(1)).alias("n1"),
            F.count(F.col("s2")).alias("n_inter"),
            F.max("n_sh").alias("n2"),
        )
        .select(
            "new_id",
            "hist_id",
            stable_round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    near = _cache(
        scored.groupBy("new_id")
        .agg(
            F.min_by(
                F.struct("jaccard", "hist_id"),
                # best match: highest jaccard (negated — always numeric), ties
                # to the LOWEST history id, which is NOT negated so any
                # orderable id type (long, string, ...) works
                F.struct((-F.col("jaccard")).alias("_nj"), F.col("hist_id").alias("_h")),
            ).alias("_best"),
        )
        .select(
            F.col("new_id").alias("doc_id"),
            F.lit("near_dup").alias("status"),
            F.col("_best.hist_id").alias("dup_of"),
            F.col("_best.jaccard").alias("jaccard"),
        )
    )

    # null dup_of must carry the index's id type (long, string, ...) or the
    # union with the exact/near branches fails for non-numeric ids
    id_type = hashes.schema["doc_id"].dataType
    keep = (
        rest.join(near.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit("keep").alias("status"),
            F.lit(None).cast(id_type).alias("dup_of"),
            F.lit(None).cast("double").alias("jaccard"),
        )
    )
    return exact.unionByName(near).unionByName(keep)


def decontaminate_against_index(
    benchmark: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap_ratio: float = 0.5,
    database: str | None = None,
) -> DataFrame:
    """Which ALREADY-ACCEPTED documents leak into a new evaluation set?

    The batch-vs-batch form (``dedup.decontamination_matches``) re-shingles
    the corpus text; at 100 TB that is the expensive way to answer a
    question the fingerprint index already holds — ``<prefix>_shingles`` IS
    the corpus's n-gram set. Here only the benchmark is shingled, and its
    shingle side is broadcast EXPLICITLY: leaving the choice to AQE would
    first materialize a shuffle of the multi-TB index (AQE converts to
    broadcast only after both shuffle stages exist), which is exactly the
    cost this operator exists to avoid. The static broadcast makes the
    index a straight scan→join with no Exchange below it (plan-asserted);
    only the O(matches) overlap rows move for the pair aggregation. The
    join/aggregate is the batch form's kernel (``dedup._containment_matches``)
    over the index's shingle rows.

    Contract: the BENCHMARK must be broadcast-small (eval suites — docs in
    the thousands). For corpus-vs-corpus overlap use
    ``dedup.decontamination_matches``, which shuffle-joins both sides. One
    row per (hist_id, bench_id), overlap measured against the benchmark
    doc, filtered at ``min_overlap_ratio``.

    Run it when a new eval suite lands: the flagged ``hist_id``s are the
    training documents to quarantine before the next training snapshot."""
    b_sh = shingle_rows(benchmark, id_col, text_col, k)
    return dedup._containment_matches(
        _corpus_side(benchmark.sparkSession, prefix, "shingles", database),
        F.broadcast(b_sh.withColumnRenamed("doc_id", "bench_id")),
        min_overlap_ratio,
    ).withColumnRenamed("corpus_id", "hist_id")


def near_decontaminate_against_index(
    benchmark: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    database: str | None = None,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """NEAR-dup decontamination of the accepted corpus against a new eval
    set, off the persisted fingerprint index: ``<prefix>_bands`` already
    holds every accepted document's LSH bands and ``<prefix>_shingles`` its
    n-gram set, so only the benchmark is fingerprinted here. Same
    candidates→verify semantics as ``dedup.near_decontamination_matches``
    (symmetric Jaccard over band candidates), same broadcast contract as
    ``decontaminate_against_index``: the benchmark's band and shingle sides
    are broadcast EXPLICITLY so neither multi-TB index table grows an
    Exchange below its scan — the band join feeds O(candidates) ids into a
    broadcast join that prunes the shingle scan before the verify
    aggregation. Candidates and verify are the batch form's kernel
    (``dedup._band_jaccard_matches``) over the index's band/shingle rows.

    Index fingerprint params (num_hashes, band_size, k) must match the
    values the index was built with — band hashes are not comparable across
    parameterizations.

    The benchmark band/shingle fingerprints and the candidate table are
    persisted (each feeds 2+ plan branches); pass ``unpersist_registry``
    (a list) to collect them for caller release — the batch decontam forms
    all take the same parameter, and a long-lived session answering
    new-suite decontams otherwise accumulates three eval-sized caches per
    call."""
    spark = benchmark.sparkSession
    b_bands, b_sh = dedup._benchmark_fingerprints(
        benchmark, id_col, text_col, num_hashes, band_size, k, unpersist_registry
    )
    return dedup._band_jaccard_matches(
        _corpus_side(spark, prefix, "bands", database),
        F.broadcast(b_bands),
        _corpus_side(spark, prefix, "shingles", database),
        F.broadcast(b_sh),
        jaccard_threshold,
        unpersist_registry,
    ).withColumnRenamed("corpus_id", "hist_id")


def _read_embparams(
    spark: SparkSession, prefix: str, database: str | None
) -> tuple | None:
    """The pinned (dim, n_bands, band_planes) of a semantic index, or None
    for a pre-params index. A catalog probe + 1-row read — never a scan."""
    table = _qualified(prefix, "embparams", database)
    if not spark.catalog.tableExists(table):
        return None
    rows = spark.table(table).collect()
    if not rows:
        # an interrupted overwrite can leave the table registered but empty;
        # fail diagnosably instead of an opaque IndexError downstream
        raise ValueError(
            f"semantic-index params table {table} exists but is empty "
            "(interrupted build/append?) — rebuild the embedding index with "
            "build_embedding_index, or drop the index and re-append"
        )
    r = rows[0]
    return (r["dim"], r["n_bands"], r["band_planes"])


def _embedding_parts(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bands: int,
    band_planes: int,
) -> dict[str, DataFrame]:
    """The two index projections of a document set's embeddings — the
    hyperplane band signatures (candidate generation) and the raw vectors
    (exact-cosine verification), derived from the same expressions as the
    batch op (``dedup.embedding_band_signatures``) so batch and incremental
    decontam can never drift."""
    sig = dedup.embedding_band_signatures(
        df, id_col, vec_col, dim, n_bands, band_planes, out_id="doc_id"
    )
    vec = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    )
    return {"embsig": sig, "embvec": vec}


def build_embedding_index(
    df: DataFrame,
    prefix: str,
    location: str,
    num_buckets: int = 8,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 4,
    band_planes: int = 8,
    mode: str = "overwrite",
    batch_id: str = "base",
    database: str | None = None,
) -> None:
    """Materialize the SEMANTIC signature index for an accepted corpus — the
    persisted-corpus side of the third decontam rung:

    - ``<prefix>_embsig`` (doc_id, band, bucket) bucketed by bucket
    - ``<prefix>_embvec`` (doc_id, embedding)    bucketed by doc_id

    Same architecture as the lexical fingerprint tables
    (``build_dedup_index``): partitioned by the introducing ``batch_id``
    for idempotent appends and rollback, bucketed on the join key so
    ``semantic_decontaminate_against_index`` reads the multi-TB index
    pre-partitioned. Plane geometry (dim, n_bands, band_planes) must stay
    fixed for the life of the index — signatures are not comparable across
    parameterizations (same contract as the MinHash band params) — so the
    geometry is PINNED in a one-row ``<prefix>_embparams`` table: appends
    verify against it and the decontam reader derives its planes from it,
    so a caller can never silently query with drifted geometry (the
    ``persist_dsir_model`` params-table pattern)."""
    spark = df.sparkSession
    _ensure_database(spark, database)
    parts = _embedding_parts(df, id_col, vec_col, dim, n_bands, band_planes)
    for name, part in parts.items():
        _write_part(
            part,
            _qualified(prefix, name, database),
            name,
            f"{location}/{prefix}_{name}",
            num_buckets,
            batch_id,
            mode,
        )
    spark.createDataFrame(
        [(int(dim), int(n_bands), int(band_planes))],
        "dim int, n_bands int, band_planes int",
    ).coalesce(1).write.mode("overwrite").option(
        "path", f"{location}/{prefix}_embparams"
    ).saveAsTable(_qualified(prefix, "embparams", database))


def append_to_embedding_index(
    df: DataFrame,
    prefix: str,
    location: str,
    num_buckets: int = 8,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 4,
    band_planes: int = 8,
    batch_id: str = "batch",
    database: str | None = None,
) -> None:
    """Append a batch's accepted embeddings to the semantic index —
    IDEMPOTENT per ``batch_id`` exactly like ``append_to_index``: each of
    the two tables is written only if it does not already hold this batch's
    partition, so an at-least-once replay cannot double-insert and a
    partial failure heals on retry. When the index carries a pinned
    ``_embparams`` table, the append's geometry must MATCH it (a drifted
    append would write incomparable signatures — fail loudly instead);
    when it doesn't (cold start through append), the pin is created."""
    spark = df.sparkSession
    _ensure_database(spark, database)
    pinned = _read_embparams(spark, prefix, database)
    if pinned is not None:
        if (dim, n_bands, band_planes) != pinned:
            raise ValueError(
                f"embedding-index geometry mismatch: index pinned "
                f"(dim, n_bands, band_planes)={pinned}, append passed "
                f"{(dim, n_bands, band_planes)}"
            )
    else:
        spark.createDataFrame(
            [(int(dim), int(n_bands), int(band_planes))],
            "dim int, n_bands int, band_planes int",
        ).coalesce(1).write.mode("overwrite").option(
            "path", f"{location}/{prefix}_embparams"
        ).saveAsTable(_qualified(prefix, "embparams", database))
    parts = _embedding_parts(df, id_col, vec_col, dim, n_bands, band_planes)
    for name, part in parts.items():
        table = _qualified(prefix, name, database)
        if _batch_present(spark, table, batch_id):
            continue
        _write_part(
            part,
            table,
            name,
            f"{location}/{prefix}_{name}",
            num_buckets,
            batch_id,
            "append",
        )


def semantic_decontaminate_against_index(
    benchmark_emb: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 4,
    band_planes: int = 8,
    cosine_threshold: float = 0.95,
    database: str | None = None,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """SEMANTIC decontamination of the accepted corpus against a new eval
    set, off the persisted embedding signature index — the index-backed
    form of ``dedup.semantic_decontamination_matches`` (identical plane
    construction; the candidate join and cosine verify are the same kernel,
    ``dedup._cosine_matches``; pinned by parity test): a translated
    or deeply paraphrased leak that shares no n-grams with its eval twin
    is found WITHOUT rescanning or re-embedding the corpus.

    One row per (hist_id, bench_id, cosine) with cosine ≥ threshold.

    Same broadcast contract as the lexical ``*_against_index`` forms: only
    the benchmark (eval suites — small by definition) is signed here; its
    signature and vector sides broadcast EXPLICITLY so neither multi-TB
    index table grows an Exchange below its scan (plan-asserted) — the
    band/bucket join feeds O(candidates) ids into a broadcast semi-join
    that prunes the vector scan before the exact-cosine verify.

    Plane geometry comes from the index's pinned ``_embparams`` table when
    present (so a query can never silently band with drifted planes); the
    explicit arguments are the fallback for a pre-params index.

    The candidate frame is persisted (it feeds 2+ plan branches; the
    benchmark signatures' only consumer is the candidate join); pass
    ``unpersist_registry`` to collect it for caller release — same contract
    as the batch decontam forms and the lexical ``*_against_index`` reader."""
    spark = benchmark_emb.sparkSession
    pinned = _read_embparams(spark, prefix, database)
    if pinned is not None:
        dim, n_bands, band_planes = pinned
    b_sig = dedup.embedding_band_signatures(
        benchmark_emb, id_col, vec_col, dim, n_bands, band_planes,
        out_id="bench_id",
    )
    return dedup._cosine_matches(
        _corpus_side(spark, prefix, "embsig", database),
        dedup._vectors(
            spark.table(_qualified(prefix, "embvec", database)),
            "doc_id", "embedding", "corpus_id", "cvec",
        ),
        F.broadcast(b_sig),
        F.broadcast(
            dedup._vectors(benchmark_emb, id_col, vec_col, "bench_id", "bvec")
        ),
        cosine_threshold,
        unpersist_registry,
    ).withColumnRenamed("corpus_id", "hist_id")


def compact_dedup_index(
    spark: SparkSession,
    prefix: str,
    location: str,
    num_buckets: int = 8,
    database: str | None = None,
    compact_batch_id: str = "compacted",
    protect_batch_ids: list[str] | None = None,
) -> None:
    """Rewrite each index table's accumulated per-epoch files into one
    compact batch partition, preserving the bucket spec — the index-side
    small-files maintenance op. Every ``append_to_index`` epoch adds at least
    one file per bucket per table, so after N epochs a bucket-key join opens
    N× more files than it needs; compaction folds history into a single
    ``batch_id=<compact_batch_id>`` partition with identical bucketing (the
    join plan — bucketed scan, no Exchange on the index side — is unchanged,
    it just opens fewer files). The semantic signature tables
    (``_embsig``/``_embvec``) join the fold automatically when they exist.

    Swap order keeps a queryable table at every step except one rename
    instant: write ``<table>__staging`` (own location, suffixed with
    ``compact_batch_id`` so successive compactions never overwrite the files
    a previous swap made live) → rename live → ``__old`` → rename staging →
    live → drop ``__old``. Use a FRESH ``compact_batch_id`` per compaction
    (e.g. a date); reusing one only to RETRY it is safe — a table whose live
    location already carries this id's suffix is skipped, so a replay after
    a partial failure finishes the remaining tables and touches nothing
    else. The old data files are external and left at their location for
    the caller to reap (the same contract as ``drop_dedup_index``).
    Epoch-level lineage/rollback is traded away for the fold — compact once
    per many epochs, after the retention window where per-crawl rollback
    matters has passed.

    **Streaming-replay interaction — pass ``protect_batch_ids``.** Folding an
    epoch erases its ``batch_id``, which defeats BOTH replay mechanisms the
    streaming ingest contract depends on: ``incremental_dedup``'s
    ``exclude_batch_id`` filter (a replayed epoch would see its own folded
    fingerprints and classify every keeper exact_dup of itself — after which
    the epoch's dynamic-overwrite would empty its documents partition) and
    ``append_to_index``'s skip-if-present probe (the replay would re-append
    duplicate fingerprints under the epoch's id). ``protect_batch_ids`` keeps
    those epochs OUT of the fold, preserved under their own partitions with
    identical bucketing — pass every epoch the stream's checkpoint could
    still replay (e.g. the last N epoch ids). Callers that pass none assert
    no protected replay horizon exists; streaming callers should ALSO run
    classification with ``exclude_batch_docs=True`` as the partition-agnostic
    backstop."""
    names = list(_TABLES) + [
        n
        for n in ("embsig", "embvec")
        if spark.catalog.tableExists(_qualified(prefix, n, database))
    ]
    for name in names:
        live = _qualified(prefix, name, database)
        staging = _qualified(f"{prefix}__staging", name, database)
        old = _qualified(f"{prefix}__old", name, database)
        suffix = f"{prefix}_{name}__compact_{compact_batch_id}"
        loc_rows = spark.sql(f"DESCRIBE FORMATTED {live}").collect()
        live_loc = next(
            (r["data_type"] for r in loc_rows if r["col_name"] == "Location"), ""
        )
        if live_loc.rstrip("/").endswith(suffix):
            continue  # this compaction already swapped this table (retry)
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        spark.sql(f"DROP TABLE IF EXISTS {old}")
        src = spark.table(live)
        if protect_batch_ids:
            staged = (
                src.filter(~F.col("batch_id").isin(list(protect_batch_ids)))
                .withColumn("batch_id", F.lit(compact_batch_id))
                .unionByName(
                    src.filter(F.col("batch_id").isin(list(protect_batch_ids)))
                )
            )
            batch_stamp = None  # batch_id column already present per row
        else:
            staged = src.drop("batch_id")
            batch_stamp = compact_batch_id
        _write_part(
            staged,
            staging,
            name,
            f"{location}/{suffix}",
            num_buckets,
            batch_stamp,
            "overwrite",
        )
        spark.sql(f"ALTER TABLE {live} RENAME TO {old}")
        spark.sql(f"ALTER TABLE {staging} RENAME TO {live}")
        spark.sql(f"DROP TABLE {old}")


def reap_stale_index_locations(
    spark: SparkSession,
    prefix: str,
    location: str,
    database: str | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete data directories under ``location`` that no live index table
    references — the cleanup counterpart of ``compact_dedup_index``'s staged
    swaps, which retire the previous live directory but (deliberately) never
    delete data a query might still be reading mid-swap. Run this AFTER a
    compaction has settled (no queries older than the swap in flight).

    Safety: candidates are only the direct children of ``location`` whose
    name starts with ``<prefix>_``; anything currently referenced by a live,
    staging, or old table's catalog Location survives. ``dry_run`` returns
    the would-be-deleted paths without touching storage. Driver-side Hadoop
    FS — works on file:/hdfs:/s3a: like ``packing.list_files``."""
    live_locs = set()
    for name in _TABLES + ("embsig", "embvec", "embparams"):
        for tbl_prefix in (prefix, f"{prefix}__staging", f"{prefix}__old"):
            table = _qualified(tbl_prefix, name, database)
            try:
                rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
            except Exception:  # noqa: BLE001 — staging/old usually absent
                continue
            loc = next(
                (r["data_type"] for r in rows if r["col_name"] == "Location"), ""
            )
            if loc:
                live_locs.add(loc.rstrip("/"))

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(location)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    reaped: list[str] = []
    for status in fs.listStatus(root):
        if not status.isDirectory():
            continue
        child = status.getPath()
        if not child.getName().startswith(f"{prefix}_"):
            continue
        uri = child.toString().rstrip("/")
        # compare on the scheme-less suffix: catalog Locations and FS listings
        # may disagree on file: vs file:/// spelling
        tail = uri.split(":", 1)[-1].lstrip("/")
        if any(l.split(":", 1)[-1].lstrip("/") == tail for l in live_locs):
            continue
        reaped.append(uri)
        if not dry_run:
            fs.delete(child, True)
    return sorted(reaped)


def drop_dedup_index(
    spark: SparkSession, prefix: str, database: str | None = None
) -> None:
    """Drop the index catalog tables (files at ``location`` are external and
    removed by the caller) — the three lexical fingerprint tables, the
    optional semantic pair (``_embsig``/``_embvec``), and the legacy
    ``_sizes`` table a pre-r5 four-table index may still carry, so
    upgrading deployments don't strand a stale catalog entry."""
    for name in _TABLES + ("embsig", "embvec", "embparams", "sizes"):
        spark.sql(f"DROP TABLE IF EXISTS {_qualified(prefix, name, database)}")
