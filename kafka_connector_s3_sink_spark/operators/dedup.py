"""Deduplication operators for training-data pipelines, at 100 TB design point.

Every variant avoids the O(n²) all-pairs trap: candidate pairs are generated by
equi-joins on content-derived keys (hash, shingle, MinHash band, SimHash prefix,
label block), so Catalyst plans ordinary shuffle/broadcast hash joins and the
cost scales with the number of *colliding* pairs, not n².

Hashing uses ``md5`` (lexicographic min over hex strings) — identical in DuckDB,
so exact/jaccard/minhash are oracle-checkable end to end.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark import StorageLevel

from kafka_connector_s3_sink_spark.operators.text import normalized_text, tokens_column
from kafka_connector_s3_sink_spark.functions.numeric import stable_round


def _materialize(df: DataFrame, unpersist_registry: list | None = None) -> DataFrame:
    """Persist an intermediate reused by several plan branches (self-join
    sides, frequency maps, size tables).

    Catalyst does NOT reuse exchanges across these branches here — the
    Union+Generate subtrees fail plan canonicalization, so every branch
    re-scans and re-computes the whole shingle pipeline (measured: 32 parquet
    scans in one Jaccard plan). The persisted tables are the *reduced*
    intermediates (doc_id + hash rows, far smaller than the text corpus), the
    canonical LSH-pipeline materialization point at any scale;
    MEMORY_AND_DISK spills instead of failing on big executors.

    ``unpersist_registry`` (a list), when given, collects the persisted frame
    so the caller can release it once the result is materialized."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if unpersist_registry is not None:
        unpersist_registry.append(df)
    return df

# -- deterministic duplicate synthesis (for correctness fixtures) ---------


def with_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", every: int = 10, id_offset: int = 100_000
) -> DataFrame:
    """Union df with exact copies of every ``every``-th row (new ids) — a
    deterministic corpus where exact dedup has real work to do."""
    dups = df.filter(F.col(id_col) % every == 0).withColumn(
        id_col, F.col(id_col) + id_offset
    )
    return df.unionByName(dups)


def with_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    every: int = 10,
    id_offset: int = 100_000,
) -> DataFrame:
    """Union df with tail-trimmed copies (last word dropped) of every
    ``every``-th row — high-Jaccard near-duplicates for LSH/Jaccard fixtures."""
    dups = df.filter(F.col(id_col) % every == 0).select(
        (F.col(id_col) + id_offset).alias(id_col),
        F.regexp_replace(F.col(text_col), r"\s+\S+\s*$", "").alias(text_col),
        *[c for c in df.columns if c not in (id_col, text_col)],
    )
    return df.select(id_col, text_col, *[c for c in df.columns if c not in (id_col, text_col)]).unionByName(dups)


# -- exact ----------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per exact (md5-of-normalized-text) duplicate class.

    One hash shuffle with map-side partial min — the canonical 100 TB exact dedup.
    """
    h = F.md5(normalized_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# -- shingles -------------------------------------------------------------


def shingle_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(doc_id, shingle) rows — each distinct shingle materialized exactly once.

    Exploding early is deliberate: downstream operators (pair join, MinHash)
    then flow through shuffles with partial aggregation instead of re-evaluating
    the shingle expression inside nested lambdas (Catalyst inlines array-lambda
    subtrees per element — a 10-100× recompute at depth 2).

    The single-element-array explode is a Generate-node projection barrier:
    higher-order-function lambdas are interpreted and re-evaluate any captured
    expression subtree per array element, so without the barrier the
    regex-normalize+split tokenization runs once PER SHINGLE (~50× per doc,
    measured 14.5s → 1.5s at sf0.1). CollapseProject merges adjacent Projects,
    so a plain intermediate select() does not help; Generate is the cheapest
    node it cannot cross (no shuffle, one array wrap per row)."""
    toks = tokens_column(normalized_text(F.col(text_col)))
    w = df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array(toks)).alias("w")
    )
    n = F.size("w")
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice("w", i + 1, k))))
    )
    return w.select("doc_id", F.explode(grams).alias("shingle"))


def shingle_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Candidate pairs sharing ≥1 shingle, with exact n-gram Jaccard similarity.

    Plan shape: explode distinct shingles → self-equi-join on shingle (shuffle
    hash join on a high-cardinality key — no n² blowup) → pair-count / union.

    ``max_df_ratio`` drops shingles present in more than that fraction of
    documents before pairing — the standard skew guard: an ultra-common shingle
    contributes ~df²/2 candidate pairs on ONE join key (a straggler task at any
    scale) while carrying no near-dup signal. Jaccard is then computed over the
    capped shingle universe on both sides of the comparison.
    """
    exploded = shingle_rows(df, id_col, text_col, k)
    if max_df_ratio is not None:
        import math

        from pyspark.sql import Window

        max_df = math.ceil(max_df_ratio * df.count())
        # df-count as a window over shingle, NOT an agg + join back: the window
        # shuffles on the same key the pair self-join needs anyway, adds no
        # second join, and never broadcasts (a broadcast freq table is
        # ~distinct-shingle-sized — a driver OOM at a 10× probe, let alone
        # 100 TB). Measured fastest of the three shapes at sf0.1.
        w = Window.partitionBy("shingle")
        exploded = (
            exploded.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df)
            .select("doc_id", "shingle")
        )
    exploded = _materialize(exploded)
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            stable_round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_dupes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Near-duplicate pairs with word-k-gram Jaccard ≥ threshold."""
    return shingle_pairs(df, id_col, text_col, k, max_df_ratio).filter(
        F.col("jaccard") >= threshold
    )


# -- MinHash + LSH --------------------------------------------------------


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    unpersist_registry: list | None = None,
    materialize: bool = True,
) -> DataFrame:
    """LSH banding: (doc_id, band_id, band_hash) — docs sharing a band hash are
    near-dup candidates. band_hash = md5 of the band's '|'-joined signature slice.

    ``materialize=False`` returns the unpersisted plan for single-consumer
    callers that immediately wrap the result (a rename/select) in their own
    ``_materialize`` — persisting here too would cache two near-identical
    copies of the same band table per call.

    Shape: shingle rows → ONE groupBy(doc_id) computing all ``num_hashes``
    per-seed minima as separate aggregate columns (each row hashes against all
    seeds map-side; partial agg reduces to one row per doc per task before the
    shuffle) → band hashes as a width-n_bands struct explode. One shuffle of
    one row per doc, no seed fan-out. (Earlier shapes, slower at sf0.1: seed
    explode ×16 + two shuffles ~6s; nested array-lambda ~70× worse — lambdas
    are interpreted and re-evaluate captured subtrees per element.)
    """
    rows = shingle_rows(df, id_col, text_col, k)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"_mh{j}")
        for j in range(num_hashes)
    ]
    sig = rows.groupBy("doc_id").agg(*mins)
    n_bands = num_hashes // band_size
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"_mh{b * band_size + i}") for i in range(band_size)]
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    out = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("_b")
    ).select(
        "doc_id",
        F.col("_b.band_id").alias("band_id"),
        F.col("_b.band_hash").alias("band_hash"),
    )
    if not materialize:
        if unpersist_registry is not None:
            raise ValueError(
                "minhash_bands(materialize=False) returns an unpersisted "
                "plan — nothing would ever be registered, so passing "
                "unpersist_registry alongside it is a caller bug (register "
                "whatever frame YOU materialize from the result instead)"
            )
        return out
    return _materialize(out, unpersist_registry)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    max_band_df: int | None = None,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """Distinct candidate pairs that collide in ≥1 LSH band (the scale path:
    join key is the band hash, never all-pairs).

    ``max_band_df`` is the hot-band guard (the batch twin of
    ``incremental_dedup``'s knob, same semantics): a band hash shared by n
    documents emits C(n,2) self-join rows on ONE key — boilerplate-heavy
    corpora (site templates, license headers, cookie banners) reliably
    produce bands with 10^5-10^6 members at 100 TB, i.e. 10^10-10^12 pairs
    out of a single skewed key, and the join straggles or dies. The cap
    drops bands whose document frequency exceeds it BEFORE the self-join
    (one count aggregation over the already-materialized bands frame),
    bounding any key's fan-out at C(cap, 2). Recall contract: a pair whose
    EVERY shared band is hot is not emitted — bounded recall loss on
    mass-duplicated boilerplate, exactly the content the exact-dup pass and
    the quality filters should be eating first (the decontamination
    docstring below names the same failure mode). Default ``None`` keeps
    exact LSH semantics; when no band's frequency exceeds the cap the
    capped and uncapped outputs are identical. Probe-backed sizing
    (SCALING.md r11 section): organic band frequencies are single-digit at
    test scale while boilerplate families are corpus-fraction-sized —
    ``max_band_df=64`` left genuine near-dup recall identical to uncapped
    while cutting a planted 10%-boilerplate corpus's candidate volume
    4,700×.

    ``unpersist_registry`` collects the persisted bands frame (it feeds
    both self-join sides and, under the cap, the df count) for caller
    release once pairs are materialized."""
    bands = minhash_bands(
        df, id_col, text_col, num_hashes, band_size, k,
        unpersist_registry=unpersist_registry,
    )
    if max_band_df is not None:
        hot = (
            bands.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_band_df)
            .select("band_id", "band_hash")
        )
        bands = bands.join(hot, ["band_id", "band_hash"], "left_anti")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )


def _containment_matches(
    c_sh: DataFrame, b_sh: DataFrame, min_overlap_ratio: float
) -> DataFrame:
    """The exact decontamination kernel (``decontamination_matches`` and
    ``incremental.decontaminate_against_index``): corpus (corpus_id,
    shingle) ⋈ benchmark (bench_id, shingle) on the shingle, n_overlap and
    overlap_ratio per pair. Pass ``b_sh`` wrapped in ``F.broadcast`` to keep
    the corpus side from shuffling."""
    b_sizes = b_sh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        c_sh.join(b_sh, "shingle")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .join(b_sizes, "bench_id")
        .select(
            "corpus_id",
            "bench_id",
            "n_overlap",
            stable_round(F.col("n_overlap") / F.col("n_sh"), 4).alias(
                "overlap_ratio"
            ),
        )
        .filter(F.col("overlap_ratio") >= min_overlap_ratio)
    )


def decontamination_matches(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap_ratio: float = 0.5,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training-corpus documents whose n-gram
    content overlaps an evaluation document — the standard pre-training
    hygiene pass (a contaminated train set inflates benchmark scores). One
    row per flagged (corpus_id, bench_id) with ``n_overlap`` shared distinct
    shingles and ``overlap_ratio`` = n_overlap / |benchmark doc's shingles|
    (measured against the BENCHMARK side: "how much of this eval doc leaks
    into that training doc"), filtered at ``min_overlap_ratio``.

    Plan shape: both sides explode to distinct (doc, shingle) rows
    (Generate — no shuffle), equi-join on the shingle hash, aggregate per
    pair (``_containment_matches``). The benchmark set is small by
    definition (evaluation suites are thousands of documents against a
    100 TB corpus), so AQE broadcasts its shingle side; output is
    O(shared-shingle pairs), never all-pairs. At production scale use a
    LARGER ``k`` (8-13-grams are customary for decontamination) — common
    3-grams collide on boilerplate and inflate the candidate set the same
    way hot LSH bands do."""
    b_sh = _materialize(
        shingle_rows(benchmark, id_col, text_col, k).withColumnRenamed(
            "doc_id", "bench_id"
        ),
        unpersist_registry,
    )
    c_sh = shingle_rows(corpus, id_col, text_col, k)
    return _containment_matches(
        c_sh.withColumnRenamed("doc_id", "corpus_id"), b_sh, min_overlap_ratio
    )


def _benchmark_fingerprints(
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
    k: int,
    unpersist_registry: list | None,
) -> tuple[DataFrame, DataFrame]:
    """The benchmark's persisted (bench_id, band_id, band_hash) bands and
    (bench_id, shingle) rows — the near kernel's benchmark side."""
    # materialize=False: the renamed frame is the one persisted
    bands = minhash_bands(
        benchmark, id_col, text_col, num_hashes, band_size, k, materialize=False
    )
    sh = shingle_rows(benchmark, id_col, text_col, k)
    return tuple(
        _materialize(f.withColumnRenamed("doc_id", "bench_id"), unpersist_registry)
        for f in (bands, sh)
    )


def _band_jaccard_matches(
    c_bands: DataFrame,
    b_bands: DataFrame,
    c_sh: DataFrame,
    b_sh: DataFrame,
    jaccard_threshold: float,
    unpersist_registry: list | None,
) -> DataFrame:
    """The near decontamination kernel (``near_decontamination_matches`` and
    ``incremental.near_decontaminate_against_index``): band candidates of
    corpus (corpus_id, …) × benchmark (bench_id, …), persisted, then exact
    n-gram Jaccard over the shingle rows. The corpus shingles are cut to
    the candidates by a broadcast join on their distinct ids — bounded by
    the benchmark, so the corpus side streams instead of shuffling. Pass
    ``b_bands``/``b_sh`` wrapped in ``F.broadcast`` to keep every corpus-side
    join shuffle-free."""
    cands = _materialize(
        c_bands.join(b_bands, ["band_id", "band_hash"])
        .select("corpus_id", "bench_id")
        .distinct(),
        unpersist_registry,
    )
    b_sizes = b_sh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_b"))
    flagged = c_sh.join(
        F.broadcast(cands.select("corpus_id").distinct()), "corpus_id"
    )
    c_sizes = flagged.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("n_c"))
    inter = (
        flagged.join(b_sh, "shingle")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        # verified pairs must also be BAND candidates: the shingle join alone
        # would resurrect pairs the banding rejected (that's the exact pass)
        .join(cands, ["corpus_id", "bench_id"])
    )
    jac = stable_round(
        F.col("n_inter") / (F.col("n_c") + F.col("n_b") - F.col("n_inter")), 4
    )
    return (
        inter.join(b_sizes, "bench_id")
        .join(c_sizes, "corpus_id")
        .select("corpus_id", "bench_id", "n_inter", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def near_decontamination_matches(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: a paraphrased or lightly
    edited eval document shares few exact long n-grams with its leaked
    training copy, so the exact-overlap pass (``decontamination_matches``)
    under-flags it. This is the MinHash route: band the signatures of BOTH
    sides, equi-join corpus bands against benchmark bands for candidates,
    then verify each candidate with exact n-gram Jaccard. One row per
    flagged (corpus_id, bench_id) with ``n_inter`` shared distinct shingles
    and symmetric ``jaccard`` (intersection / union — near-dup semantics,
    unlike the containment ratio of the exact pass), filtered at
    ``jaccard_threshold``.

    Plan shape (``_band_jaccard_matches``): the benchmark side is small by
    definition (eval suites), so its band AND shingle tables persist once
    and broadcast (AQE); the corpus computes signatures in one
    shingle-shuffle (``minhash_bands``), candidates come from the band
    equi-join (never all-pairs), and the verify keeps ONLY the shingles of
    corpus docs that banded with some benchmark doc (a broadcast join on
    the distinct candidate ids — at 100 TB the candidate set is a vanishing
    fraction of the corpus). For the corpus-side-indexed form see
    ``incremental.near_decontaminate_against_index``, which reads the
    persisted band/shingle tables instead of re-fingerprinting."""
    b_bands, b_sh = _benchmark_fingerprints(
        benchmark, id_col, text_col, num_hashes, band_size, k, unpersist_registry
    )
    c_bands = minhash_bands(
        corpus, id_col, text_col, num_hashes, band_size, k,
        unpersist_registry=unpersist_registry,
    )
    c_sh = shingle_rows(corpus, id_col, text_col, k)
    return _band_jaccard_matches(
        c_bands.withColumnRenamed("doc_id", "corpus_id"),
        b_bands,
        c_sh.withColumnRenamed("doc_id", "corpus_id"),
        b_sh,
        jaccard_threshold,
        unpersist_registry,
    )


def embedding_band_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 4,
    band_planes: int = 8,
    out_id: str = "vec_id",
) -> DataFrame:
    """(out_id, band, bucket) — the banded random-hyperplane LSH signature of
    every embedding: ``n_bands`` independent sets of ``band_planes``
    md5-derived hyperplanes, one sign-bitmask bucket per band (the cosine
    analog of MinHash bands; same plane construction as
    ``similarity.lsh_topk``, seeds ``1000 + band``). One narrow pass, no
    shuffle — the shared signature primitive of
    ``semantic_decontamination_matches`` (batch form) and the persisted
    embedding signature index (``incremental.build_embedding_index``).
    Zero vectors emit no signature (their cosine is undefined)."""
    from kafka_connector_s3_sink_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_column,
        nonzero_vec,
    )

    if n_bands <= 0 or band_planes <= 0:
        raise ValueError(
            f"n_bands and band_planes must be > 0, got {n_bands}, {band_planes}"
        )
    v = df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).filter(nonzero_vec(F.col("vec")))
    sig = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                lsh_bucket_column(
                    F.col("vec"), _hyperplanes(dim, band_planes, seed=1000 + band)
                ).alias("bucket"),
            )
            for band in range(n_bands)
        ]
    )
    return v.select(out_id, F.explode(sig).alias("_s")).select(
        out_id, "_s.band", "_s.bucket"
    )


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str
) -> DataFrame:
    """(out_id, out_vec) — a document set's embeddings as array<double>."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias(out_vec),
    )


def _cosine_matches(
    c_sig: DataFrame,
    c_vec: DataFrame,
    b_sig: DataFrame,
    b_vec: DataFrame,
    cosine_threshold: float,
    unpersist_registry: list | None,
) -> DataFrame:
    """The semantic decontamination kernel
    (``semantic_decontamination_matches`` and
    ``incremental.semantic_decontaminate_against_index``): (band, bucket)
    candidates of corpus (corpus_id, …) × benchmark (bench_id, …),
    persisted, then the exact cosine of ``c_vec`` (corpus_id, cvec) and
    ``b_vec`` (bench_id, bvec). Both callers broadcast the benchmark frames;
    the corpus vectors are cut to the candidate ids (broadcast, as in
    ``_band_jaccard_matches``) before their norms are computed."""
    from kafka_connector_s3_sink_spark.operators.similarity import dot, l2norm

    cands = _materialize(
        c_sig.join(b_sig, ["band", "bucket"])
        .select("corpus_id", "bench_id")
        .distinct(),
        unpersist_registry,
    )
    c_vec = c_vec.join(
        F.broadcast(cands.select("corpus_id").distinct()), "corpus_id"
    ).withColumn("cnorm", l2norm(F.col("cvec")))
    b_vec = b_vec.withColumn("bnorm", l2norm(F.col("bvec")))
    cos = stable_round(
        dot(F.col("cvec"), F.col("bvec")) / (F.col("cnorm") * F.col("bnorm")), 4
    )
    return (
        cands.join(c_vec, "corpus_id")
        .join(b_vec, "bench_id")
        .select("corpus_id", "bench_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= cosine_threshold)
    )


def semantic_decontamination_matches(
    corpus_emb: DataFrame,
    benchmark_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 4,
    band_planes: int = 8,
    cosine_threshold: float = 0.95,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """SEMANTIC benchmark decontamination — the third rung of the decontam
    ladder (exact shingles → banded MinHash → embeddings): a translated or
    deeply paraphrased eval document shares no n-grams with its leaked
    training copy, but its embedding still sits next to it. One row per
    (corpus_id, bench_id, cosine) with cosine ≥ ``cosine_threshold``.

    Candidates come from BANDED random-hyperplane LSH (the cosine analog of
    the MinHash bands): ``n_bands`` independent plane sets of
    ``band_planes`` signs each; a pair is a candidate if ANY band buckets
    them together (OR of bands buys recall; each extra band is one more
    narrow signature column, never another corpus pass). Verification is
    the exact cosine on candidates only.

    Plan shape: the corpus computes n_bands sign-signatures in one narrow
    pass and explodes to (id, band, bucket) — n_bands rows per vector; the
    benchmark side (eval suites — small by definition) does the same and
    BROADCASTS; candidates are the (band, bucket) equi-join, distinct'd;
    the cosine verify joins candidate ids back to the two vector tables
    (benchmark side broadcast again). Nothing is corpus × benchmark
    all-pairs, nothing is corpus²; work scales with |corpus| × n_bands +
    |candidates| × dim. Same hyperplane construction as similarity.lsh_topk
    (md5-derived, engine-portable)."""

    def signatures(df: DataFrame, out_id: str) -> DataFrame:
        return embedding_band_signatures(
            df, id_col, vec_col, dim, n_bands, band_planes, out_id=out_id
        )

    return _cosine_matches(
        signatures(corpus_emb, "corpus_id"),
        _vectors(corpus_emb, id_col, vec_col, "corpus_id", "cvec"),
        F.broadcast(signatures(benchmark_emb, "bench_id")),
        F.broadcast(_vectors(benchmark_emb, id_col, vec_col, "bench_id", "bvec")),
        cosine_threshold,
        unpersist_registry,
    )


def jaccard_verify(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for a given CANDIDATE pair set only — the verify
    half of an LSH pipeline (LSH buys recall cheaply; this buys precision
    exactly). Unlike ``shingle_pairs`` there is no shingle self-join: shingles
    are materialized only for documents that appear in some candidate pair
    (semi-join pushdown), then each (id1, id2) pair joins its two shingle
    sets on equality to count the intersection. Work scales with
    |candidates| × shingles-per-doc, never with corpus².

    The candidate docs' shingle frame is persisted (it feeds the size
    aggregate and both sides of the intersection join); pass
    ``unpersist_registry`` (a list) to collect it so the caller can release
    it once the result is materialized — without it a long-lived session
    running many cascades accumulates one persisted shingle frame per call.
    """
    ids = candidates.select(F.col("id1").alias("vid")).unionByName(
        candidates.select(F.col("id2").alias("vid"))
    ).distinct()
    sh = _materialize(
        shingle_rows(
            docs.join(ids, docs[id_col] == ids.vid, "left_semi"), id_col, text_col, k
        ),
        unpersist_registry,
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    s1 = sh.select(F.col(id_col).alias("id1"), F.col("shingle").alias("sh1"))
    s2 = sh.select(F.col(id_col).alias("_rid2"), F.col("shingle").alias("sh2"))
    inter = (
        candidates.join(s1, "id1")
        .join(s2, (F.col("id2") == F.col("_rid2")) & (F.col("sh1") == F.col("sh2")))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    n1 = sizes.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
    n2 = sizes.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(n1, "id1")
        .join(n2, "id2")
        .select(
            "id1",
            "id2",
            stable_round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
    )


class CascadeArtifacts(NamedTuple):
    """Every reusable intermediate of ``dedup_cascade`` — for pipelines that
    need more than the cluster table (the pretraining preset blocks its
    train/val split on CANDIDATE pairs, not just verified clusters, so a
    pair that collided in a band but scored under the Jaccard threshold —
    both members survive dedup — still lands in one split).

    ``clusters``: (doc_id, cluster_id, is_canonical) over verified pairs
    (== the plain ``dedup_cascade`` return). ``candidates``: (id1, id2)
    band collisions among exact survivors. ``verified``: candidates with
    ``jaccard`` ≥ threshold. ``candidate_clusters``: (doc_id, cluster_id,
    is_canonical) — connected components over ALL candidate pairs (a
    coarser blocking than ``clusters``; vertices are only the docs that
    appear in a candidate pair, so it is exactly the shape
    ``sampling.cluster_safe_split`` wants: absent docs are singletons)."""

    clusters: DataFrame
    candidates: DataFrame
    verified: DataFrame
    candidate_clusters: DataFrame


def dedup_cascade_artifacts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    unpersist_registry: list | None = None,
    max_band_df: int | None = None,
) -> CascadeArtifacts:
    """``dedup_cascade`` with its intermediates exposed (see
    :class:`CascadeArtifacts`). Candidates are materialized once and feed
    both the Jaccard verify and the candidate-blocking CC — no stage runs
    twice. Pass ``unpersist_registry`` to release the persisted candidate
    and verify-shingle frames when the artifacts are no longer consumed (a
    long-lived session constructing many cascades otherwise accumulates one
    set per call). ``max_band_df`` is the hot-band guard forwarded to
    ``minhash_lsh_pairs`` — it bounds BOTH downstream consumers at once:
    the Jaccard verify's pair volume AND the candidate-blocking CC's edge
    set (an uncapped hot band would inflate the split-blocking graph with
    C(n,2) edges from one key). The CC bound is also a bounded
    LEAKAGE-SAFETY loss, not just a scale win: a genuine near-dup pair
    whose EVERY shared band is hot loses its edge, so
    ``sampling.cluster_safe_split`` can no longer block the two docs into
    one split — boilerplate-heavy near-dups may straddle train/test under
    the cap. Same contour as the recall contract: the affected content is
    mass-duplicated boilerplate the exact pass and quality filters should
    be eating first, but set the cap knowing eval-leakage protection
    narrows with it."""
    exact = exact_dedup(df, id_col, text_col)
    survivors = df.join(
        exact.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )
    candidates = _materialize(
        minhash_lsh_pairs(
            survivors, id_col, text_col, num_hashes, band_size, k,
            max_band_df=max_band_df,
            unpersist_registry=unpersist_registry,
        ),
        unpersist_registry,
    )
    verified = jaccard_verify(
        candidates, survivors, id_col, text_col, k,
        unpersist_registry=unpersist_registry,
    ).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    clusters = connected_components(
        survivors.select(id_col), verified, id_col=id_col
    )
    cand_ids = (
        candidates.select(F.col("id1").alias(id_col))
        .unionByName(candidates.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    candidate_clusters = connected_components(cand_ids, candidates, id_col=id_col)
    return CascadeArtifacts(clusters, candidates, verified, candidate_clusters)


def dedup_cascade(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    max_band_df: int | None = None,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """The production dedup pipeline, composed end to end:

    1. EXACT pass — md5-of-normalized-text classes, keep the min id (one hash
       shuffle; removes the identical-clone packs that would make any pair
       stage quadratic).
    2. CANDIDATES — MinHash-LSH band collisions among the exact survivors
       (equi-join on band hash, never all-pairs).
    3. VERIFY — exact n-gram Jaccard on the candidate pairs only
       (``jaccard_verify``), keep pairs ≥ threshold: LSH recall, exact
       precision.
    4. CLUSTERS — connected components over verified pairs (transitive
       near-dup groups), canonical = min id per component.

    Returns (doc_id, cluster_id, is_canonical) for every EXACT-surviving doc;
    `filter(is_canonical == 1)` is the deduplicated corpus. Each stage is the
    already-scale-audited operator — the cascade adds no new shuffle shapes.
    ``max_band_df`` caps hot LSH bands before the candidate self-join (see
    ``minhash_lsh_pairs`` for the recall contract); ``unpersist_registry``
    collects the verify stage's persisted shingle frame for caller release.
    """
    exact = exact_dedup(df, id_col, text_col)
    survivors = df.join(
        exact.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )
    candidates = minhash_lsh_pairs(
        survivors, id_col, text_col, num_hashes, band_size, k,
        max_band_df=max_band_df,
        unpersist_registry=unpersist_registry,
    )
    verified = jaccard_verify(
        candidates, survivors, id_col, text_col, k,
        unpersist_registry=unpersist_registry,
    ).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    return connected_components(
        survivors.select(id_col), verified, id_col=id_col
    )


# -- SimHash --------------------------------------------------------------


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) via explode + one aggregation pass: 16 conditional
    bit-vote sums computed together with map-side partial agg — one pass over
    the tokens instead of 16 array folds per row."""
    toks = tokens_column(normalized_text(F.col(text_col)))
    tok_rows = df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("t"))
    hashed = tok_rows.select(
        "doc_id", F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("long").alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(16)
    ]
    agged = hashed.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(16)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return agged.select("doc_id", out.cast("int").alias("simhash"))


def simhash_dupes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming. Candidate
    pairs come from exact match on either byte-half of the 16-bit hash
    (pigeonhole: any pair within hamming 1 of a half-match is found; a
    recall/cost tradeoff — more blocks = more recall, more candidates)."""
    sh = _materialize(simhash_table(df, id_col, text_col))
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.concat(F.lit("lo:"), (F.col("simhash") % 256).cast("string")),
                F.concat(F.lit("hi:"), (F.col("simhash") / 256).cast("int").cast("string")),
            )
        ).alias("block"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).cast("long")
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# -- cluster formation ------------------------------------------------------


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup candidate pairs: (doc_id, cluster_id)
    with cluster_id = min doc_id in the component, plus is_canonical.

    The piece an actual dedup pipeline needs downstream of pair generation —
    "keep one document per duplicate CLUSTER", where clusters are transitive
    (A~B, B~C ⇒ {A,B,C} even if A≁C).

    Iterative min-label propagation: each round sends every node's label across
    its edges (both directions) and keeps the minimum — a join + a partial-agg
    groupBy per round, converging in O(diameter) rounds (near-dup clusters are
    shallow; 2-3 rounds in practice). Labels persist per round and the loop
    stops on a fixpoint (count of changed labels == 0). At 100 TB this is the
    standard large-graph CC shape (the driver loop is O(iterations) tiny jobs;
    all data movement is executor-side).

    The fixpoint check rides the propagation aggregate (r15, guide §2.4):
    each node's PREVIOUS label travels through the groupBy as a second
    ``min`` column (self rows carry it, message rows carry null — min
    ignores nulls, and every id has exactly one self row, so the aggregate
    recovers it exactly), making "did anything change" a filter-count over
    the round's already-checkpointed blocks. The previous shape re-joined
    the new labels against the old (one more join + its exchanges per
    round, on frames the size of the NODE SET — a full extra N-row shuffle
    per round at scale). Ids that first appear this round (an edge endpoint
    outside ``nodes``) have a null previous label and count as unchanged —
    identical to the old inner-join semantics, which also excluded them.

    ``stats``, when given, receives ``{"rounds": n}`` — the number of
    propagation rounds actually run (the probe harness pins this against
    scale; a diameter that GROWS with corpus size would break the
    O(diameter)-rounds claim above).
    """
    edges = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    edges = _materialize(
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    # localCheckpoint (not persist): persist caches DATA but keeps the full
    # logical plan, so after N rounds the labels lineage held N joins+aggs —
    # Catalyst re-optimized the whole history every round (measured: 450
    # Exchanges in the returned plan at 20 rounds) and an evicted cache would
    # recompute it all. Checkpointing truncates the plan to the materialized
    # result each round — the returned DataFrame is 1 scan, not N rounds.
    # On a multi-node cluster use reliable checkpoint() (object-store dir);
    # local mode keeps executor-local blocks.
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    lbl_type = labels.schema["label"].dataType
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        msgs = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"),
            "label",
            F.lit(None).cast(lbl_type).alias("old"),
        )
        new_full = (
            labels.withColumn("old", F.col("label"))
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            .localCheckpoint(eager=True)
        )
        # null-safe-excluded by design: a null old (id absent from the
        # previous round) compares to null -> filtered out, exactly like
        # the former inner join's missing row
        changed = new_full.filter(F.col("label") != F.col("old")).count()
        labels = new_full.select("id", "label")
        if changed == 0:
            break
    # the final labels are eagerly checkpointed — nothing in the returned
    # frame reads edges anymore, so its cache releases HERE, not at session
    # end (a long-lived session running many cascades leaked one edge cache
    # per CC call before this)
    edges.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).cast("int").alias("is_canonical"),
    )


# -- embedding near-dup ---------------------------------------------------


def semantic_dupes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    threshold: float = 0.95,
    centroids: list[tuple[int, list[float]]] | None = None,
    assignment: str = "auto",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: cluster the corpus with the
    deterministic k-means coarse quantizer (``similarity.ivf_centroids`` —
    seeded-hash fit sample, lowest-id seeds, rounded-cosine Lloyd), then
    compare ONLY same-cell pairs by cosine ≥ threshold.

    This is the published SemDeDup recipe (Abbas et al. 2023, public):
    k-means over embeddings as the blocking structure, pairwise similarity
    inside each cluster. Versus ``embedding_cosine_dupes``'s caller-supplied
    block column, the cluster key here is LEARNED from the data — the right
    default when no natural blocking key exists. Scale shape: the fit reads a
    bounded sample (O(cap) rows), assignment is one corpus scan with a
    broadcast/literal quantizer (cosine is scale-invariant, so near-dup
    copies land in the same cell by construction), and the self-join is an
    equi-join on ``centroid_id`` — O(Σ cell²) comparisons, never all-pairs.
    Pass ``centroids`` to reuse a quantizer already fitted elsewhere (e.g.
    the IVF index's), keeping dedup and ANN blocking consistent."""
    from kafka_connector_s3_sink_spark.operators.similarity import (
        _assign_centroids,
        ivf_centroids,
        l2norm,
        nonzero_vec,
    )

    if centroids is None:
        centroids = ivf_centroids(
            df,
            n_centroids=n_centroids,
            id_col=id_col,
            vec_col=vec_col,
            assignment=assignment,
        )
    v = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .filter(nonzero_vec(F.col("vec")))
        .withColumn("vnorm", l2norm(F.col("vec")))
    )
    assigned = _assign_centroids(v, centroids, id_col="vec_id", assignment=assignment)
    return embedding_cosine_dupes(
        assigned,
        id_col="vec_id",
        vec_col="vec",
        block_col="centroid_id",
        threshold=threshold,
        dim=dim,
    )


def embedding_cosine_dupes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold, blocked on ``block_col``
    (IVF-style: only same-block pairs are compared — at 100 TB the block key
    comes from a coarse quantizer; here the dataset's label plays that role).

    ``dim`` (r16): when the embedding dimension is statically known, each
    vector is pre-flattened into ``dim`` scalar double columns BELOW the
    self-join and the per-pair dot is a codegen'd left-to-right scalar sum —
    measured 1.7× over the interpreted ``aggregate(zip_with)`` fold on the
    kmeans pair shape (4.1s → 2.4s interleaved, identical rows). This is NOT
    the r15-rejected shape (that unroll kept the array and paid 64
    ``element_at`` accesses per pair); flat columns bind directly to the
    join row. Addition order is identical to the fold (((d0)+d1)+…), so
    values are bit-exact. A non-null vector whose size is not ``dim`` fails
    the query with an error naming ``dim`` and the size — a longer one would
    otherwise drop its tail from the dot but not from the norm (a wrong
    cosine), a shorter one would hit a bare index error. ``dim=None`` keeps
    the dimension-agnostic HOF form."""
    v = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    # norms once per VECTOR, not per pair: the fold lambdas are interpreted,
    # and a blocked self-join evaluates pair expressions O(block²) times —
    # precomputing the norm column cuts two of the three folds per pair
    v = v.withColumn(
        "norm",
        F.sqrt(F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    if dim is not None:
        vec = F.col("vec")
        checked = F.when(vec.isNull() | (F.size(vec) == dim), vec).otherwise(
            F.raise_error(
                F.format_string(
                    f"embedding_cosine_dupes: dim={dim} but vector %s has "
                    "size %d",
                    F.col("vec_id").cast("string"),
                    F.size(vec),
                )
            )
        )
        v = v.select(
            "vec_id",
            "block",
            "norm",
            *[checked[i].alias(f"_d{i}") for i in range(dim)],
        )
        a, b = v.alias("a"), v.alias("b")
        dot = F.col("a._d0") * F.col("b._d0")
        for i in range(1, dim):
            dot = dot + F.col(f"a._d{i}") * F.col(f"b._d{i}")
    else:
        a, b = v.alias("a"), v.alias("b")
        dot = F.aggregate(
            F.zip_with(F.col("a.vec"), F.col("b.vec"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    cos = stable_round(dot / (F.col("a.norm") * F.col("b.norm")), 4)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# -- paragraph-level (CCNet/C4-style) -------------------------------------


def paragraph_occurrences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
) -> DataFrame:
    """(id, para_idx, para, para_hash) — one row per paragraph, hash over
    the SAME normalization as document-level exact dedup (lowercase +
    whitespace collapse), empty paragraphs dropped. Pure row-local explode;
    the Generate barrier keeps the split from re-inlining per consumer."""
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias(
            "para_idx", "para"
        ),
    ).filter(F.trim(F.col("para")) != "")
    return paras.withColumn(
        "para_hash", F.md5(normalized_text(F.col("para")))
    )


def paragraph_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph dedup ledger: per distinct normalized
    paragraph, the owning first occurrence (lexicographic (id, para_idx) —
    deterministic) and the occurrence count. The CCNet/C4 preprocessing
    stage document-level dedup misses: boilerplate lines (nav, footers,
    cookie banners) repeat across MILLIONS of otherwise-distinct pages.
    ONE hash shuffle with map-side partial ``min(struct)``/``count`` —
    identical scale shape to ``exact_dedup``, just at paragraph grain."""
    occ = paragraph_occurrences(df, id_col, text_col, delimiter)
    return (
        occ.groupBy("para_hash")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("para_idx"))).alias("_first"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select(
            "para_hash",
            F.col(f"_first.{id_col}").alias("keep_id"),
            "n_dups",
        )
    )


def remove_duplicate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
) -> DataFrame:
    """The corpus with every NON-FIRST occurrence of each paragraph
    removed and documents reassembled in original paragraph order (docs
    whose every paragraph was claimed elsewhere disappear — their content
    survives at its first location). Two shuffles: the dedup ledger's hash
    aggregation (a window over ``para_hash`` — same key, same exchange)
    and the per-document reassembly. Other columns are re-joined from the
    input on ``id_col``."""
    from pyspark.sql import Window

    occ = paragraph_occurrences(df, id_col, text_col, delimiter)
    w = Window.partitionBy("para_hash").orderBy(
        F.col(id_col).asc(), F.col("para_idx").asc()
    )
    firsts = occ.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    rebuilt = (
        firsts.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("para_idx", "para"))
                    ),
                    lambda s: s["para"],
                ),
                delimiter,
            ).alias(text_col)
        )
    )
    others = [c for c in df.columns if c not in (id_col, text_col)]
    if others:
        rebuilt = rebuilt.join(df.select(id_col, *others), id_col)
    return rebuilt


# -- exact-substring span dedup (Lee et al., "Deduplicating Training Data
#    Makes Language Models Better") ----------------------------------------


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_occurrences: int = 2,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """Merged token-position intervals covered by a ``span_tokens``-gram that
    occurs ≥ ``min_occurrences`` times corpus-wide: (doc_id, span_start,
    span_end, n_grams) with span_end exclusive. The substring-grain stage
    document- and paragraph-level dedup both miss — a license header or
    boilerplate sentence embedded mid-document repeats verbatim across
    millions of otherwise-distinct pages.

    Hashed-suffix-array approximation of the reference algorithm: rolling
    md5 grams over lowercased whitespace tokens (positions index the RAW
    token sequence — lowercasing never moves a whitespace boundary), one
    corpus-wide hash shuffle to find repeated grams (map-side partial agg),
    a semi join back on the same key, then per-document gaps-and-islands
    (two doc-key windows) to merge overlapping gram hits into maximal
    spans. Nothing is all-pairs; every stage is an equi-join or a
    key-partitioned window."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(
                # sequence(0, n) runs DESCENDING when n < 0 — short docs must
                # produce an empty gram list, not [0, -1]
                F.when(
                    F.size(toks) >= span_tokens,
                    F.sequence(F.lit(0), F.size(toks) - span_tokens),
                ).otherwise(F.array().cast("array<int>")),
                lambda i: F.struct(
                    i.alias("start"),
                    F.md5(
                        F.lower(
                            F.concat_ws(
                                " ", F.slice(toks, i + 1, span_tokens)
                            )
                        )
                    ).alias("h"),
                ),
            )
        ).alias("_g"),
    ).select("doc_id", F.col("_g.start").alias("start"), F.col("_g.h").alias("h"))
    # The gram table (the operator's dominant map work — per-position
    # slice+concat+md5 over every token) feeds two consumers, and exchange
    # reuse does not rescue two subscriptions of one subtree here — so it is
    # persisted once (`_materialize`, the same suffix-array-intermediate
    # materialization point as the shingle pipeline). Repeated grams then
    # come from a partial-aggregating groupBy + semi join back: deliberately
    # NOT a count window over `h`, because the operator's own target — a
    # boilerplate gram present in a large fraction of all documents — is a
    # single window group that one task must buffer, while the groupBy
    # combines it map-side to one row per partition and the semi join
    # streams it (build side is one row per hash).
    grams = _materialize(grams, unpersist_registry)
    repeated = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_occurrences)
        .select("h")
    )
    hits = grams.join(repeated, "h", "left_semi").select(
        "doc_id", "start", (F.col("start") + span_tokens).alias("fin")
    )
    w_order = Window.partitionBy("doc_id").orderBy("start", "fin")
    prev_max = (
        F.max("fin")
        .over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    )
    islands = hits.withColumn(
        "_new", (F.col("start") > F.coalesce(prev_max, F.lit(-1))).cast("int")
    ).withColumn(
        "_island",
        F.sum("_new").over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("fin").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def strip_duplicate_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_occurrences: int = 2,
    unpersist_registry: list | None = None,
) -> DataFrame:
    """The corpus with every duplicated span's tokens removed (a
    ``text_clean`` column; pass a precomputed ``duplicate_spans`` frame to
    share the ledger between reporting and surgery). The reference removes
    ONE copy and keeps another; removing all copies (the conservative C4
    posture for boilerplate) is deliberate — the kept-copy policy needs a
    global owner election, which ``paragraph_dedup_stats`` demonstrates at
    paragraph grain. Surgery is a per-row higher-order filter over the
    token array against the doc's (small) span list — no Python, no extra
    shuffle beyond the span join."""
    if spans is None:
        spans = duplicate_spans(
            df, id_col, text_col, span_tokens, min_occurrences,
            unpersist_registry=unpersist_registry,
        )
    span_arr = spans.groupBy(F.col("doc_id").alias(id_col)).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    joined = df.join(span_arr, id_col, "left").withColumn(
        "_spans", F.coalesce(F.col("_spans"), F.array())
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return joined.withColumn("text_clean", F.array_join(kept, " ")).drop("_spans")
