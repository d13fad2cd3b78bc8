"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set against the
(huge) corpus; per-row work is a JVM ``zip_with``/``aggregate`` dot product, so
the scan parallelizes over corpus partitions with zero shuffle until the final
per-query top-k aggregation.

Scale path: LSH-bucketed ANN — random-hyperplane signs bucket the corpus; only
same-bucket candidates are scored. Bucket ids are deterministic (seeded
md5-derived hyperplanes) so results are reproducible.

All float math is done in double with explicit rounding so the DuckDB oracle
hash-matches.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from kafka_connector_s3_sink_spark.functions.numeric import stable_round

# literal-centroid assignment bakes n_centroids × dim doubles into the plan;
# past this many scalars the plan-build and codegen cost dominates, so `auto`
# switches to the broadcast-join assignment (O(1) plan size, one extra shuffle)
LITERAL_ASSIGN_MAX_SCALARS = 2048


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def nonzero_vec(a: Column) -> Column:
    """Zero-norm guard as a cheap short-circuiting scan: true iff any element
    is nonzero — equivalent to ``l2norm(a) > 0`` for finite inputs. Filtering
    on this predicate instead of on a computed norm column matters: Catalyst's
    filter-pushdown substitutes the norm's defining expression into the filter
    predicate, so guarding with ``norm > 0`` re-runs the interpreted
    square-sum fold once in the filter and again in the cosine projection
    (the r3 2-3x ANN regression). ``exists`` carries no fold to duplicate."""
    return F.exists(a, lambda x: x != F.lit(0.0))


def not_self(qid: Column, nid: Column) -> Column:
    """Self-match exclusion that tolerates differently-typed id columns.

    Comparing a string query_id against a long corpus id directly would make
    ANSI mode cast the string to bigint and throw on non-numeric ids; the
    string-side comparison is total, and for same-typed ids it is equivalent
    to the direct inequality (string rendering of a long is injective)."""
    return qid.cast("string") != nid.cast("string")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    Plan (two-phase): broadcast(queries) ⋈ corpus (no shuffle of the corpus),
    scores computed JVM-side, then a partition-local bounded top-k
    (``mapInPandas`` — Arrow-batched selection only, never recomputing values,
    O(|queries|·k) memory per task, ≤ |queries|·k rows emitted per partition)
    feeds the exact final ``row_number`` window. Only the candidate set
    (≤ |queries|·k·P rows) ever shuffles — the naive single-phase window would
    funnel |corpus| scored rows per query into ONE task each, a straggler by
    construction at a 100× corpus. Any global top-k row is a partition-local
    top-k row, so phase 1 is lossless. Ties broken by corpus id for
    determinism; the result and oracle are identical to the single-phase plan
    (modulo zero-norm vectors, whose NaN cosine is filtered before ranking).
    """
    # zero-norm vectors are dropped up front: their cosine is undefined
    # (0/0 — an ANSI-mode error, NaN otherwise, and NaN would additionally
    # rank differently in the window vs the pandas pre-filter). Excluding
    # degenerate vectors is the sane user-facing semantics for similarity.
    c = (
        corpus.select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
        .filter(nonzero_vec(F.col("cvec")))
        .withColumn("cnorm", l2norm(F.col("cvec")))
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .filter(nonzero_vec(F.col("qvec")))
        .withColumn("qnorm", l2norm(F.col("qvec")))
    )
    # norms precomputed per row below the join — the interpreted fold would
    # otherwise run per (query × corpus) pair
    scored = F.broadcast(q).crossJoin(c).filter(not_self(F.col("query_id"), F.col("nbr_id")))
    scored = scored.select(
        "query_id",
        "nbr_id",
        stable_round(
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")), 4
        ).alias("cosine"),
    )
    candidates = scored.mapInPandas(_partition_local_topk(k), schema=scored.schema)
    return _rank_topk(candidates, k)


def _rank_topk(scored: DataFrame, k: int, score_col: str = "cosine") -> DataFrame:
    """The one per-query top-k rank step of every search here: ``rank`` =
    ``row_number`` over (query_id; score desc, nbr_id asc), kept at rank ≤ k,
    as (query_id, nbr_id, score_col, rank). Callers that pre-trim with
    ``_partition_local_topk`` feed it the trimmed candidates; the window then
    sees ≤ |queries|·k rows per partition."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", score_col, "rank")
    )


def _partition_local_topk(k: int, score_col: str = "cosine"):
    """Bounded per-partition top-k over (query_id, score desc, nbr_id asc)
    scored rows. Running best-set stays ≤ |queries|·k rows: each Arrow batch is
    merged with the carry and re-truncated, so memory never scales with the
    corpus partition size. Shared by cosine ANN (score_col='cosine') and
    lexical BM25 retrieval (score_col='score')."""

    def run(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cand = pdf if best is None else pd.concat((best, pdf), ignore_index=True)
            cand = cand.sort_values(
                ["query_id", score_col, "nbr_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            best = cand.groupby("query_id", sort=False).head(k)
        if best is not None:
            yield best

    return run


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5(seed, plane, coord):
    component = (md5_int mod 2001 - 1000) / 1000 ∈ [-1, 1]. No numpy RNG —
    reproducible across engines and versions."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(((int(h[:8], 16) % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


def double_array_literal(vals) -> Column:
    """Literal array<double> as ONE parsed SQL expression. ``F.array(*[F.lit(v)
    ...])`` costs one py4j round-trip per element — measured 4.8s of pure plan
    BUILD time for 8×64-dim hyperplanes; this is a single call. ``repr`` emits
    the shortest round-tripping decimal, so the parsed double is bit-identical
    to the Python value."""
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")")


def lsh_bucket_column(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane, packed into a string
    like '1011…' (string keeps it engine-portable)."""
    bits = [
        F.when(dot(vec, double_array_literal(plane)) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for plane in planes
    ]
    return F.concat(*bits)


def fit_sample(
    v: DataFrame, cap: int | None, id_col: str = "vid", salt: str = "ivf"
) -> DataFrame:
    """Deterministic seeded-hash sample of ~``cap`` rows (expected size; the
    hash is uniform so the tail is tightly bounded). Include a row iff the
    first 16 md5 bits of ``salt:id`` fall under ``cap/count`` of the hash
    space — reproducible from the data alone, so the DuckDB oracle applies
    the IDENTICAL filter. The count is one tiny O(1)-result job, the same
    class of driver escape as the dedup df-cap. ``cap=None`` disables."""
    if cap is None:
        return v
    count = v.count()
    if count == 0:
        return v
    # clamp to >=1 so a huge corpus (count > cap*65536, ~16.7M at the
    # default cap=256) still samples ~1/65536 of rows instead of zero —
    # an empty fit sample would make the downstream codebook/centroid fit
    # raise "empty corpus" on a non-empty one. Mirrored by greatest(1, ...)
    # in the DuckDB oracle replays.
    threshold = max(1, min(65536, math.floor(cap / count * 65536)))
    h16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("int")
    return v.filter(h16 < F.lit(threshold))


def _assign_centroids(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str = "vec",
    norm_col: str = "vnorm",
    assignment: str = "auto",
) -> DataFrame:
    """df + ``centroid_id`` = argmax-cosine centroid (rounded cosine; ties →
    lowest centroid id). Two physical strategies, same values:

    - ``literal``: centroids baked into one row-local expression
      (``nearest_centroid_expr``) — zero shuffle, but plan size grows
      O(k·dim), the right call only below LITERAL_ASSIGN_MAX_SCALARS.
    - ``broadcast``: centroids as a broadcast-joined k-row DataFrame; the
      k-per-row scores reduce with one ``max_by`` shuffle on ``id_col``.
      O(1) plan size — the 100 TB path when k grows to hundreds+.

    Both compute the cosine with the same sequential fold and the same
    Python-precomputed centroid norms, so the assignment is bit-identical —
    pinned by a pytest comparing the two paths at n_centroids=64.
    """
    if assignment == "auto":
        n_scalars = len(cents) * (len(cents[0][1]) if cents else 0)
        assignment = (
            "literal" if n_scalars <= LITERAL_ASSIGN_MAX_SCALARS else "broadcast"
        )
    if assignment == "literal":
        return df.withColumn(
            "centroid_id",
            nearest_centroid_expr(F.col(vec_col), F.col(norm_col), cents),
        )
    cdf = df.sparkSession.createDataFrame(
        [
            (cid, cvec, math.sqrt(sum(c * c for c in cvec)))
            for cid, cvec in cents
        ],
        schema="_cid INT, _cvec array<double>, _cnorm double",
    )
    ccos = stable_round(
        dot(F.col(vec_col), F.col("_cvec")) / (F.col(norm_col) * F.col("_cnorm")), 4
    )
    scored = df.crossJoin(F.broadcast(cdf)).withColumn("_ccos", ccos)
    payload = F.struct(
        *[F.col(c) for c in df.columns if c != id_col],
        F.col("_cid").alias("centroid_id"),
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            payload, F.struct(F.col("_ccos").alias("c"), (-F.col("_cid")).alias("n"))
        ).alias("_b")
    )
    return best.select(id_col, "_b.*")


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_cap: int | None = 256,
    assignment: str = "auto",
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF coarse quantizer, fitted on a bounded sample: the
    quantizer only needs the density shape, so Lloyd runs over a seeded-hash
    sample of ~``fit_sample_cap`` rows (at 100 TB the fit job reads a few
    thousand rows, not the corpus; ASSIGNMENT still scans everything once).
    Seed centroids are the ``n_centroids`` lowest-id sample vectors; each
    Lloyd iteration assigns the sample to its max-cosine centroid (ties →
    lowest centroid id) and recomputes the element-wise mean per cluster via
    posexplode + (cluster, dim) partial-agg.

    Returns the centroids as PLAIN VALUES: a k-means quantizer is O(k·dim)
    scalars, bounded by config, never by data — collecting it to the driver is
    the same class of escape as the df-cap count (one tiny job). Downstream
    assignment picks literal vs broadcast strategy by plan size (see
    ``_assign_centroids``). Deterministic end to end — sample filter, seeds,
    and every rounding step are reproduced exactly by the DuckDB oracle.
    """
    v = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    samp = fit_sample(v, fit_sample_cap)
    cents = sorted(
        (r["vid"], list(r["vec"]))
        for r in samp.orderBy("vid").limit(n_centroids).collect()
    )
    for _ in range(iterations):
        assigned = _assign_centroids(
            samp.filter(nonzero_vec(F.col("vec"))).withColumn(
                "vnorm", l2norm(F.col("vec"))
            ),
            cents,
            id_col="vid",
            assignment=assignment,
        )
        dims = assigned.select(
            "centroid_id", F.posexplode("vec").alias("pos", "val")
        )
        agg = dims.groupBy("centroid_id", "pos").agg(F.avg("val").alias("m"))
        rows = agg.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cvec")
        ).collect()
        cents = sorted((r["centroid_id"], list(r["cvec"])) for r in rows)
    return cents


def nearest_centroid_expr(
    vec: Column, vnorm: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """centroid_id of the max-cosine centroid (rounded cosine; ties → lowest
    id) as a pure row-local expression: sort (−cosine, id) structs ascending,
    take the head. Centroid norms are Python-side constants — the same
    left-to-right square-sum fold as ``l2norm``, so the doubles are
    bit-identical to the Spark-computed ones."""
    import math

    entries = []
    for cid, cvec in centroids:
        cn = math.sqrt(sum(c * c for c in cvec))
        ccos = stable_round(
            dot(vec, double_array_literal(cvec)) / (vnorm * F.lit(cn)), 4
        )
        entries.append(
            F.struct((-ccos).alias("neg"), F.lit(cid).alias("cid"))
        )
    return F.element_at(F.array_sort(F.array(*entries)), 1)["cid"]


def top_centroids_expr(
    vec: Column,
    vnorm: Column,
    centroids: list[tuple[int, list[float]]],
    p: int,
) -> Column:
    """array<int> of the ``p`` max-cosine centroid ids (rounded cosine; ties →
    lowest id), as a pure row-local expression — the nprobe generalization of
    ``nearest_centroid_expr`` (p=1 head == argmax)."""
    import math as _math

    entries = []
    for cid, cvec in centroids:
        cn = _math.sqrt(sum(c * c for c in cvec))
        ccos = stable_round(
            dot(vec, double_array_literal(cvec)) / (vnorm * F.lit(cn)), 4
        )
        entries.append(F.struct((-ccos).alias("neg"), F.lit(cid).alias("cid")))
    ranked = F.slice(F.array_sort(F.array(*entries)), 1, p)
    return F.transform(ranked, lambda s: s["cid"])


def _probe_centroids(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str,
    vec_col: str = "vec",
    norm_col: str = "vnorm",
    assignment: str = "auto",
) -> DataFrame:
    """df exploded to ``nprobe`` rows per input row, each tagged with one of
    the row's top-nprobe centroid ids. Literal strategy explodes a row-local
    top-p expression; broadcast strategy ranks the k broadcast-join scores
    with a per-id row_number (the probe side is the small side, so the window
    partition is tiny)."""
    if assignment == "auto":
        n_scalars = len(cents) * (len(cents[0][1]) if cents else 0)
        assignment = (
            "literal" if n_scalars <= LITERAL_ASSIGN_MAX_SCALARS else "broadcast"
        )
    if assignment == "literal":
        probes = top_centroids_expr(F.col(vec_col), F.col(norm_col), cents, nprobe)
        return df.withColumn("centroid_id", F.explode(probes))
    cdf = df.sparkSession.createDataFrame(
        [(cid, cvec, math.sqrt(sum(c * c for c in cvec))) for cid, cvec in cents],
        schema="_cid INT, _cvec array<double>, _cnorm double",
    )
    ccos = stable_round(
        dot(F.col(vec_col), F.col("_cvec")) / (F.col(norm_col) * F.col("_cnorm")), 4
    )
    scored = df.crossJoin(F.broadcast(cdf)).withColumn("_ccos", ccos)
    w = Window.partitionBy(id_col).orderBy(F.col("_ccos").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(*df.columns, F.col("_cid").alias("centroid_id"))
    )


def assign_corpus(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: str = "auto",
) -> DataFrame:
    """The build-time half of an IVF index as a DataFrame: every (nonzero)
    corpus vector with its norm and nearest-centroid bucket — columns
    ``(nbr_id, cvec_v, cnorm_v, centroid_id)``. Feed it to
    ``ivf_topk(assigned_corpus=...)`` (persisted or materialized) to amortize
    the assignment scan across many probe calls — the in-memory analogue of
    ``write_ivf_index``, whose on-disk layout is this same frame partitioned
    by ``centroid_id``."""
    return _assign_centroids(
        corpus.select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("cvec_v"),
        )
        .filter(nonzero_vec(F.col("cvec_v")))
        .withColumn("cnorm_v", l2norm(F.col("cvec_v"))),
        centroids,
        id_col="nbr_id",
        vec_col="cvec_v",
        norm_col="cnorm_v",
        assignment=assignment,
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    fit_sample_cap: int | None = 256,
    assignment: str = "auto",
    centroids: list[tuple[int, list[float]]] | None = None,
    assigned_corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: corpus bucketed by nearest centroid; each query probes its
    top-``nprobe`` centroids' buckets and brute-forces cosine inside them.
    Pass ``centroids`` to reuse a previously fitted quantizer (the index is
    fit once, probed many times — the deployment shape).
    nprobe is the standard recall knob — at nprobe=1 a query near a Voronoi
    boundary misses true neighbors in the adjacent cell; probing p buckets
    multiplies candidate cost by ~p while recovering boundary neighbors.

    The quantizer fits on a bounded deterministic sample (``fit_sample_cap``),
    assignment picks literal-expression vs broadcast-join strategy by plan
    size, and the only wide ops are the bucket equi-join and the final
    bucket-bounded top-k window. At 100 TB the assignment is precomputed and
    the corpus written partitioned by centroid_id — a probe becomes a
    partition-pruned scan of nprobe buckets.
    """
    if assigned_corpus is not None and centroids is None:
        raise ValueError(
            "assigned_corpus requires the centroids it was assigned with"
        )
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(
            corpus, n_centroids, 1, id_col, vec_col, fit_sample_cap, assignment
        )
    )
    c_assigned = (
        assigned_corpus
        if assigned_corpus is not None
        else assign_corpus(corpus, cents, id_col, vec_col, assignment)
    )
    return _ivf_search(
        _probe_queries(queries, cents, nprobe, query_id_col, vec_col, assignment),
        c_assigned,
        k,
    )


def _probe_queries(
    queries: DataFrame,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    query_id_col: str,
    vec_col: str,
    assignment: str,
) -> DataFrame:
    """The query side of an IVF probe: every nonzero query vector as
    (query_id, qvec, qnorm), one row per probed ``centroid_id``."""
    return _probe_centroids(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .filter(nonzero_vec(F.col("qvec")))
        .withColumn("qnorm", l2norm(F.col("qvec"))),
        cents,
        nprobe,
        id_col="query_id",
        vec_col="qvec",
        norm_col="qnorm",
        assignment=assignment,
    )


def _ivf_search(q_assigned: DataFrame, c_assigned: DataFrame, k: int) -> DataFrame:
    """Score every (query, member of a probed bucket) pair and rank — the
    search step of ``ivf_topk`` and ``ivf_topk_indexed``. ``c_assigned`` is
    ``assign_corpus``-shaped (nbr_id, cvec_v, cnorm_v, centroid_id), computed
    in memory or read back from a ``write_ivf_index`` directory."""
    scored = (
        F.broadcast(q_assigned)
        .join(c_assigned, "centroid_id")
        .filter(not_self(F.col("query_id"), F.col("nbr_id")))
        .select(
            "query_id",
            "nbr_id",
            stable_round(
                dot(F.col("qvec"), F.col("cvec_v"))
                / (F.col("qnorm") * F.col("cnorm_v")),
                4,
            ).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


# assign_corpus column -> column of the on-disk IVF index
_IVF_COLUMNS = (("nbr_id", "vec_id"), ("cvec_v", "vec"), ("cnorm_v", "norm"))


def _ivf_rows(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    assignment: str,
    batch_id: str,
) -> DataFrame:
    """A corpus's rows of the on-disk IVF index:
    (vec_id, vec, norm, centroid_id, batch_id), assigned by ``assign_corpus``."""
    return assign_corpus(corpus, cents, id_col, vec_col, assignment).select(
        *[F.col(a).alias(d) for a, d in _IVF_COLUMNS],
        "centroid_id",
        F.lit(batch_id).alias("batch_id"),
    )


def write_ivf_index(
    corpus: DataFrame,
    dest_dir: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_cap: int | None = 256,
    assignment: str = "auto",
    centroids: list[tuple[int, list[float]]] | None = None,
    batch_id: str = "base",
) -> list[tuple[int, list[float]]]:
    """Persist the corpus as an on-disk IVF index: each vector is assigned to
    its nearest centroid and written ``partitionBy(centroid_id, batch_id)``
    (parquet), with the fitted quantizer saved to ``<dest>/_centroids.json``.
    This is the deployment shape ``ivf_topk``'s docstring promises for
    100 TB: the assignment scan runs ONCE at build time, norms are
    precomputed into the index, and a probe becomes a partition-pruned scan
    of ``nprobe`` bucket directories (see ``ivf_topk_indexed``) instead of a
    full-corpus pass. ``batch_id`` is the ingest-lineage partition (same
    contract as the dedup index): the initial build is one batch, and
    ``append_to_ivf_index`` adds later crawls' embeddings under their own
    partition value — replay-idempotent, rollback = drop the partition.

    Zero-norm vectors are excluded at build time — their cosine is undefined,
    matching every query path's up-front filter.
    """
    import json

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(
            corpus, n_centroids, 1, id_col, vec_col, fit_sample_cap, assignment
        )
    )
    (
        _ivf_rows(corpus, cents, id_col, vec_col, assignment, batch_id)
        .write.mode("overwrite")
        .partitionBy("centroid_id", "batch_id")
        .parquet(dest_dir)
    )
    # quantizer sidecar: O(k·dim) scalars, driver-side by construction.
    # Written through the storage client so the index works on s3://, not
    # just a local mount (same contract as the sink's exact-name objects).
    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    ObjectStorage(dest_dir).write_bytes(
        "_centroids.json",
        json.dumps({"centroids": [[cid, cvec] for cid, cvec in cents]}).encode(),
    )
    return cents


def append_to_ivf_index(
    new_vectors: DataFrame,
    index_dir: str,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: str = "auto",
) -> None:
    """Append a crawl batch's embeddings to an existing on-disk IVF index
    under the EXISTING quantizer (no refit — standard IVF maintenance: the
    coarse quantizer stays frozen between rebuilds so bucket membership of
    history never changes; watch ``ivf_index_stats`` for drift and rebuild
    when bucket skew grows). Only the new batch is assigned — O(|batch|),
    never a history rewrite.

    IDEMPOTENT per ``batch_id`` via dynamic partition overwrite on the
    ``(centroid_id, batch_id)`` layout: assignment is deterministic, so a
    replayed batch rewrites exactly its own partition directories and touches
    no other batch — the same at-least-once contract as the dedup index's
    skip-if-present appends and the sink's idempotent object names
    (`S3SinkTask.java:121-144`)."""
    spark = new_vectors.sparkSession
    cents = read_ivf_centroids(index_dir)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            _ivf_rows(new_vectors, cents, id_col, vec_col, assignment, batch_id)
            .write.mode("overwrite")
            .partitionBy("centroid_id", "batch_id")
            .parquet(index_dir)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def ivf_index_stats(spark, index_dir: str) -> DataFrame:
    """Bucket-occupancy rollup of a persisted IVF index: rows per
    (centroid_id, batch_id). This is the drift/skew monitor for the frozen
    quantizer — when new batches pile disproportionately into few buckets
    (distribution shift), probes over those buckets stop being ~1/k of the
    corpus and it is time to refit + rebuild. Scans only parquet metadata
    grains (count per partition), not vector payloads."""
    return (
        spark.read.parquet(index_dir)
        .groupBy("centroid_id", "batch_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def read_ivf_centroids(index_dir: str) -> list[tuple[int, list[float]]]:
    import json

    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    data = json.loads(ObjectStorage(index_dir).read_bytes("_centroids.json"))
    return [
        (int(cid), [float(c) for c in cvec]) for cid, cvec in data["centroids"]
    ]


def ivf_topk_indexed(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    assignment: str = "auto",
) -> DataFrame:
    """Top-k over a persisted IVF index (``write_ivf_index``) as a
    PARTITION-PRUNED scan: the query set's probe buckets are resolved first —
    at most ``n_centroids`` distinct ids, collected driver-side (the same
    O(config)-bounded escape as the quantizer itself) — and the index read
    filters ``centroid_id IN (probes)``, so Spark plans only those
    directories. At 100 TB with k=1024 buckets and nprobe=2, a query batch
    reads ~0.2% of the table instead of all of it; values are identical to
    ``ivf_topk`` with the same quantizer because both score the same
    (query, bucket-member) pairs with the same rounded-cosine expression.
    """
    cents = read_ivf_centroids(index_dir)
    q_assigned = _probe_queries(
        queries, cents, nprobe, query_id_col, vec_col, assignment
    )
    probe_ids = sorted(
        r["centroid_id"] for r in q_assigned.select("centroid_id").distinct().collect()
    )
    idx = spark.read.parquet(index_dir).filter(F.col("centroid_id").isin(probe_ids))
    return _ivf_search(
        q_assigned,
        idx.select(*[F.col(d).alias(a) for a, d in _IVF_COLUMNS], "centroid_id"),
        k,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH bucket.

    At 100 TB the corpus side is pre-bucketed (partitioned/bucketed table on
    the bucket id) so a query probe touches one bucket's partitions only.
    """
    planes = _hyperplanes(dim, n_planes)
    c = (
        corpus.select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
        .filter(nonzero_vec(F.col("cvec")))
        .withColumn("bucket", lsh_bucket_column(F.col("cvec"), planes))
        .withColumn("cnorm", l2norm(F.col("cvec")))
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .filter(nonzero_vec(F.col("qvec")))
        .withColumn("bucket", lsh_bucket_column(F.col("qvec"), planes))
        .withColumn("qnorm", l2norm(F.col("qvec")))
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(not_self(F.col("query_id"), F.col("nbr_id")))
        .select(
            "query_id",
            "nbr_id",
            stable_round(
                dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")),
                4,
            ).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


def topk_recall(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the evaluation loop every ANN deployment needs before trusting nprobe /
    n_planes settings. Both inputs are topk-shaped (query_id, nbr_id, rank);
    output one row per query: (query_id, n_hits, recall), plus use
    ``.agg(avg("recall"))`` for the headline number. One equi-join on
    (query_id, nbr_id) + one aggregation — O(queries × k), never touching
    the corpus."""
    a = approx.filter(F.col("rank") <= k).select("query_id", "nbr_id")
    e = exact.filter(F.col("rank") <= k).select("query_id", "nbr_id")
    hits = (
        e.join(a.withColumn("_hit", F.lit(1)), ["query_id", "nbr_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits") / F.col("n_exact")).alias("recall"),
        )
    )
    return hits


# --------------------------------------------------------------------------
# Product quantization (PQ) — the memory path for 100 TB-scale ANN.
#
# IVF (above) prunes WHICH partitions a query scans; PQ shrinks WHAT each
# scanned row costs: a dim-float vector (dim·4 bytes) becomes m small codes
# (m bytes at k ≤ 256), and query-time scoring touches only an m-entry
# lookup table per row (asymmetric distance computation, ADC — Jégou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011; public
# implementations: faiss IndexPQ, Spark-side rewrites of it). At dim=768,
# m=96: 3072 → 96 bytes/vector, a 32× cache-footprint cut, which is the
# difference between an in-memory rescoring corpus and a spilling one.
#
# Everything is deterministic and engine-portable (same discipline as the
# IVF quantizer): seeded-hash fit sample, lowest-id seeds, rounded
# squared-L2 argmin with lowest-code tiebreak, so the DuckDB oracle replays
# the fit, the encoding, and the ADC scores exactly.
# --------------------------------------------------------------------------


def _sq_dist(a: Column, b: Column, b_sq: Column | float) -> Column:
    """Rounded squared L2 via the dot-product identity ‖a−b‖² =
    a·a − 2·a·b + b·b, using the shared sequential-fold ``dot`` so the float
    summation order matches DuckDB's ``list_dot_product`` term-for-term
    (the elementwise (a−b)² fold would sum in a different order and drift
    at the 4th decimal)."""
    b_sq_col = F.lit(b_sq) if isinstance(b_sq, float) else b_sq
    return stable_round(dot(a, a) - 2 * dot(a, b) + b_sq_col, 4)


def _slice_cols(vec: Column, m: int, d: int) -> list[Column]:
    """The m contiguous subvectors of ``vec`` (each length ``d``)."""
    return [F.slice(vec, s * d + 1, d) for s in range(m)]


def _py_fold_dot(a, b) -> float:
    """Python-side dot with the SAME left-to-right accumulation as the
    ``dot`` Column fold (and DuckDB's list_dot_product) — bit-identical
    doubles wherever the inputs are."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _py_sq_dist(a, b) -> float:
    """Python-side rounded squared L2 matching ``_sq_dist`` exactly:
    the same dot-identity term order and the same floor-rounding."""
    d2 = _py_fold_dot(a, a) - 2 * _py_fold_dot(a, b) + _py_fold_dot(b, b)
    return math.floor(d2 * 10000.0 + 0.5) / 10000.0


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_cap: int | None = 256,
) -> list[list[tuple[int, list[float]]]]:
    """Fit m per-subspace codebooks of k centroids each, on a bounded
    seeded-hash sample (same ``fit_sample`` contract as IVF: at 100 TB the
    fit reads a few thousand rows, never the corpus). Seeds are the k
    lowest-id sample rows' subvectors (code ids 0..k−1 in id order); one
    Lloyd step assigns every sample subvector to its min-squared-L2 code
    (rounded distance, ties → lowest code) and recomputes per-(subspace,
    code) elementwise means — ALL subspaces in one DataFrame pipeline with
    ``sub`` as a grouping key, so the fit is two small shuffles total, not
    m separate jobs.

    Returns plain values (m·k·(dim/m) = k·dim scalars — bounded by config,
    the same driver-escape class as the IVF centroids). Requires dim
    divisible by m."""
    v = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    samp = fit_sample(v, fit_sample_cap, salt="pq")
    seed_rows = sorted(
        (r["vid"], list(r["vec"]))
        for r in samp.orderBy("vid").limit(k).collect()
    )
    if not seed_rows:
        raise ValueError("empty corpus: cannot fit PQ codebooks")
    dim = len(seed_rows[0][1])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    # seed codebooks: code c (0-based, in vid order) takes sample row c's
    # subvectors
    books = [
        [(c, vec[s * d : (s + 1) * d]) for c, (_, vec) in enumerate(seed_rows)]
        for s in range(m)
    ]
    spark = corpus.sparkSession
    sub = samp.select(
        "vid",
        F.posexplode(F.array(*_slice_cols(F.col("vec"), m, d))).alias(
            "sub", "svec"
        ),
    )
    cb = spark.createDataFrame(
        [
            (s, c, cvec, sum(x * x for x in cvec))
            for s, book in enumerate(books)
            for c, cvec in book
        ],
        schema="sub INT, code INT, cvec array<double>, c2 DOUBLE",
    )
    scored = sub.join(F.broadcast(cb), "sub").withColumn(
        "d2", _sq_dist(F.col("svec"), F.col("cvec"), F.col("c2"))
    )
    assigned = scored.groupBy("vid", "sub").agg(
        F.min_by(
            F.struct(F.col("code"), F.col("svec")),
            F.struct(F.col("d2"), F.col("code")),
        ).alias("_a")
    )
    dims = assigned.select(
        "sub", F.col("_a.code").alias("code"), F.posexplode("_a.svec").alias("pos", "val")
    )
    rows = (
        dims.groupBy("sub", "code", "pos")
        .agg(F.avg("val").alias("mval"))
        .groupBy("sub", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda st: st["mval"],
            ).alias("cvec")
        )
        .collect()
    )
    fitted: list[dict[int, list[float]]] = [dict() for _ in range(m)]
    for r in rows:
        fitted[r["sub"]][r["code"]] = list(r["cvec"])
    # a code that captured no sample subvector keeps its seed (possible only
    # on degenerate corpora smaller than k)
    return [
        sorted(
            (c, fitted[s].get(c, seed_vec)) for c, seed_vec in books[s]
        )
        for s in range(m)
    ]


def _argmin_code_expr(
    svec: Column, book: list[tuple[int, list[float]]]
) -> Column:
    """code id of the min-squared-L2 codebook entry for one subvector —
    a pure row-local expression (sort (d2, code) structs, take the head)."""
    entries = [
        F.struct(
            _sq_dist(
                svec, double_array_literal(cvec), sum(x * x for x in cvec)
            ).alias("d2"),
            F.lit(code).alias("code"),
        )
        for code, cvec in book
    ]
    return F.element_at(F.array_sort(F.array(*entries)), 1)["code"]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: str = "auto",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, codes array<int>) — each vector compressed to its m nearest
    per-subspace code ids. Three physical strategies, identical values
    (pinned by pytest):

    - ``arrow`` (default): zero-shuffle Arrow-batched numpy kernel — the
      corpus-scale path. The O(n·k·dim) multiply-adds are exactly where
      vectorized columnar beats both interpreted HOF folds (measured ~10×
      on the bench entry — the literal plan's 2.7 MB expression tree is
      rebuilt per job AND evaluated row-at-a-time) and codegen (dense
      linear algebra). Accumulation loops run in DIM ORDER so every double
      is bit-identical to the sequential ``dot`` fold the DataFrame paths
      and the DuckDB oracle use — same class of deliberate escape as the
      multimodal/Avro kernels.
    - ``literal``: pure-JVM zero-shuffle row-local argmin; plan size
      O(k·dim) scalars — fine below ``LITERAL_ASSIGN_MAX_SCALARS``.
    - ``broadcast``: subvector explode → broadcast m·k-row codebook join →
      ``min_by`` per (id, sub) → re-assemble; O(1) plan size without a
      Python boundary (two shuffles).
    """
    m = len(codebooks)
    d = len(codebooks[0][0][1])
    if assignment == "auto":
        assignment = "arrow"
    v = corpus.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col(vec_col).cast("array<double>").alias("_vec"),
    )
    if assignment == "arrow":
        import numpy as np
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StructField,
            StructType,
        )

        # (m, k, d) codebook tensor + python-fold self-dots, closure-shipped
        cb = [[list(cvec) for _, cvec in book] for book in codebooks]
        cc = [
            [_py_fold_dot(cvec, cvec) for cvec in book] for book in cb
        ]
        keep_fields = [v.schema[c] for c in (id_col, *keep_cols)]
        out_schema = StructType(
            keep_fields + [StructField("codes", ArrayType(IntegerType()))]
        )

        def run(batches):
            C = [np.asarray(book, dtype=np.float64) for book in cb]  # (k, d)
            CC = [np.asarray(c, dtype=np.float64) for c in cc]  # (k,)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.asarray(
                    np.stack(pdf["_vec"].to_numpy()), dtype=np.float64
                )  # (n, dim)
                n = X.shape[0]
                codes = np.empty((n, m), dtype=np.int32)
                for s in range(m):
                    S = X[:, s * d : (s + 1) * d]
                    # dim-order accumulation == the sequential dot fold
                    ss = np.zeros(n)
                    sc = np.zeros((n, len(CC[s])))
                    for i in range(d):
                        col = S[:, i]
                        ss = ss + col * col
                        sc = sc + col[:, None] * C[s][None, :, i]
                    d2 = (ss[:, None] - 2.0 * sc) + CC[s][None, :]
                    d2 = np.floor(d2 * 10000.0 + 0.5) / 10000.0
                    codes[:, s] = np.argmin(d2, axis=1)  # first min = lowest code
                out = pdf[[id_col, *keep_cols]].copy()
                out["codes"] = [c.tolist() for c in codes]
                yield out

        return v.mapInPandas(run, schema=out_schema)
    if assignment == "literal":
        slices = _slice_cols(F.col("_vec"), m, d)
        return v.select(
            id_col,
            *keep_cols,
            F.array(
                *[_argmin_code_expr(sl, codebooks[s]) for s, sl in enumerate(slices)]
            ).alias("codes"),
        )
    spark = corpus.sparkSession
    cb = spark.createDataFrame(
        [
            (s, c, cvec, sum(x * x for x in cvec))
            for s, book in enumerate(codebooks)
            for c, cvec in book
        ],
        schema="sub INT, code INT, cvec array<double>, c2 DOUBLE",
    )
    sub = v.select(
        id_col,
        *keep_cols,
        F.posexplode(F.array(*_slice_cols(F.col("_vec"), m, d))).alias(
            "sub", "svec"
        ),
    )
    scored = sub.join(F.broadcast(cb), "sub").withColumn(
        "d2", _sq_dist(F.col("svec"), F.col("cvec"), F.col("c2"))
    )
    best = scored.groupBy(id_col, *keep_cols, "sub").agg(
        F.min_by(F.col("code"), F.struct(F.col("d2"), F.col("code"))).alias(
            "code"
        )
    )
    return (
        best.groupBy(id_col, *keep_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda st: st["code"],
            ).alias("codes")
        )
    )


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation over PQ codes.

    Per query, the k·m squared-L2 distances from its subvectors to every
    codebook entry form a lookup table. The query batch is COLLECTED and
    the LUTs computed driver-side in plain Python with the identical
    sequential-fold arithmetic (queries are a bounded probe batch — the
    same driver-escape class as the centroid/hyperplane collects; an
    expression-built LUT was measured 10× slower purely from plan size:
    k·dim dot folds per query row serialize to multi-MB task binaries and
    evaluate interpreted). The corpus side then pays only m ``element_at``
    lookups + an m-term sum per row, pure JVM over the broadcast m·k-double
    LUT frame. Same two-phase bounded top-k as ``brute_force_topk``
    (partition-local Arrow selection → exact final window), so nothing
    corpus-sized ever funnels into one task. ``score`` = −ADC distance
    (higher is better, aligned with the other retrieval branches); ties →
    lowest nbr_id."""
    m = len(codebooks)
    d = len(codebooks[0][0][1])
    spark = encoded.sparkSession
    qid_type = dict(
        (f.name, f.dataType) for f in queries.schema.fields
    )[query_id_col].simpleString()
    qrows = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    ).collect()
    lut_rows = []
    for r in qrows:
        qvec = list(r["_qvec"])
        lut = [
            [
                _py_sq_dist(qvec[s * d : (s + 1) * d], cvec)
                for _, cvec in codebooks[s]
            ]
            for s in range(m)
        ]
        lut_rows.append((r["query_id"], lut))
    q = spark.createDataFrame(
        lut_rows, schema=f"query_id {qid_type}, _lut array<array<double>>"
    )
    c = encoded.select(F.col(id_col).alias("nbr_id"), "codes")
    pairs = F.broadcast(q).crossJoin(c).filter(
        not_self(F.col("query_id"), F.col("nbr_id"))
    )
    adc = sum(
        F.element_at(
            F.element_at(F.col("_lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        )
        for s in range(m)
    )
    scored = pairs.select(
        "query_id",
        "nbr_id",
        stable_round(F.lit(-1.0) * adc, 4).alias("score"),
    )
    candidates = scored.mapInPandas(
        _partition_local_topk(k, score_col="score"), schema=scored.schema
    )
    return _rank_topk(candidates, k, score_col="score")


def normalize_vectors(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Unit-normalize a vector column (zero vectors dropped — no direction).
    Cosine ranking ≡ squared-L2 ranking on the unit sphere, which is what
    lets the L2-native PQ machinery serve cosine retrieval."""
    v = F.col(vec_col).cast("array<double>")
    out = (
        df.filter(nonzero_vec(v))
        .withColumn("_vnorm", l2norm(v))  # once per row, not per element
        .withColumn(vec_col, F.transform(v, lambda x: x / F.col("_vnorm")))
        .drop("_vnorm")
    )
    return out


def pq_topk_rescored(
    encoded: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ retrieval with exact refinement — the production ANN shape:

    1. ADC over the compact codes ranks the WHOLE corpus cheaply (m lookup
       adds per row) and keeps ``k_candidates`` per query;
    2. only those candidates' full vectors are fetched (equi-join on id —
       at 100 TB this reads |queries|·k_candidates vectors, not the corpus)
       and rescored with exact cosine;
    3. the final top-k ranks by true cosine.

    Recall@k equals the CANDIDATE-set recall (step 3 is exact), so
    ``k_candidates`` is the single knob trading scan cost for recall —
    measured by ``topk_recall`` (tests pin the monotone improvement).
    Output matches ``brute_force_topk``'s shape with ``score`` = exact
    cosine."""
    cands = pq_topk(
        encoded,
        codebooks,
        queries,
        k=k_candidates,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select("query_id", "nbr_id")
    c = corpus.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("_cvec"),
    ).filter(nonzero_vec(F.col("_cvec")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    ).filter(nonzero_vec(F.col("_qvec")))
    joined = (
        cands.join(c, "nbr_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "nbr_id",
            stable_round(
                dot(F.col("_qvec"), F.col("_cvec"))
                / (l2norm(F.col("_qvec")) * l2norm(F.col("_cvec"))),
                4,
            ).alias("score"),
        )
    )
    return _rank_topk(joined, k, score_col="score")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k_codes: int = 16,
    k: int = 10,
    k_candidates: int = 50,
    rescore: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ retrieval — the composition a billion-vector deployment runs
    (faiss ``IndexIVFPQ``'s shape, Spark-first): the IVF coarse quantizer
    prunes WHICH cells a query scans, PQ codes shrink WHAT each scanned
    row costs, exact rescoring restores precision on the candidates.

    1. fit (or accept) the coarse quantizer + PQ codebooks — both on the
       bounded seeded sample, both deterministic;
    2. one corpus scan assigns cells AND encodes codes (`pq_encode` with
       the cell id carried through — nothing scans twice);
    3. per query, LUTs are computed driver-side for its top-``nprobe``
       cells only (same rounded-cosine/lowest-id probe rule as
       ``top_centroids_expr``); the (query, cell, LUT) frame broadcast-joins
       the encoded corpus ON THE CELL KEY, so rows outside probed cells are
       never scored — with the corpus materialized cell-partitioned
       (``write_ivf_index`` layout + codes), that is a partition-pruned
       scan of ~nprobe/n_centroids of the data at m bytes/vector;
    4. bounded partition-local top-k → exact window → optional exact-cosine
       rescore of the ``k_candidates`` survivors (equi-join fetches only
       candidate vectors).

    Operates on unit-normalized vectors internally (cosine ≡ L2 on the
    sphere); with ``rescore`` the score column is the exact cosine. Every
    stage reuses an oracle-checked primitive (ivf probe rule, PQ
    fit/encode/ADC, rescoring) — the composition itself is pinned by
    recall/pruning pytests.

    ``residual=True`` quantizes each vector's offset FROM its cell
    centroid instead of the raw vector (faiss IVFPQ's default) and builds
    the query LUT per probed cell on (query − centroid) — better recall
    at the same code budget (see inline note). A caller-supplied
    ``codebooks`` must then be residual-space (e.g. from a prior run)."""
    nrm = normalize_vectors(
        corpus.select(F.col(id_col), F.col(vec_col)), vec_col
    )
    if centroids is None:
        centroids = ivf_centroids(
            nrm, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    assigned = assign_corpus(nrm, centroids, id_col=id_col, vec_col=vec_col)
    # the PQ fit runs several bounded actions (sample count, seeds, one
    # Lloyd step) and the encode/score path two more — without a lineage
    # cut each action re-executes normalize+assign over the corpus
    # (measured 27.7s -> 3.4s on the 1x probe). localCheckpoint once, same
    # as the linkgraph iteration frames.
    assigned = assigned.localCheckpoint()
    if residual:
        # faiss-IVFPQ residual encoding: quantize (vec − cell centroid) —
        # residual magnitudes are far smaller than vector magnitudes, so the
        # same m×k codebook budget spends its resolution where it matters
        # (measured: candidate recall 0.68→0.82 at k_candidates=50 on the
        # test embeddings). Pure elementwise subtraction via a broadcast
        # k-row centroid join — deterministic, mirrored exactly by the
        # Python LUT side.
        assigned = _with_residual(assigned, centroids)
        enc_vec_col = "rvec"
    else:
        enc_vec_col = "cvec_v"
    if codebooks is None:
        codebooks = pq_codebooks(
            assigned, m=m, k=k_codes, id_col="nbr_id", vec_col=enc_vec_col
        )
    md = len(codebooks)
    d = len(codebooks[0][0][1])
    enc = pq_encode(
        assigned,
        codebooks,
        id_col="nbr_id",
        vec_col=enc_vec_col,
        keep_cols=("centroid_id",),
    )
    # driver-side probe selection + LUTs for probed cells only: the same
    # bounded query-batch collect as pq_topk
    qn = normalize_vectors(
        queries.select(F.col(query_id_col), F.col(vec_col)), vec_col
    )
    qid_type = dict(
        (f.name, f.dataType) for f in queries.schema.fields
    )[query_id_col].simpleString()
    qrows = qn.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    ).collect()
    cnorms = {cid: math.sqrt(_py_fold_dot(c, c)) for cid, c in centroids}
    lut_rows = []
    for r in qrows:
        qvec = list(r["_qvec"])
        qnorm = math.sqrt(_py_fold_dot(qvec, qvec))
        scored_cells = sorted(
            (
                -(math.floor(
                    _py_fold_dot(qvec, cvec) / (qnorm * cnorms[cid])
                    * 10000.0 + 0.5
                ) / 10000.0),
                cid,
            )
            for cid, cvec in centroids
        )
        probe_cells = [cid for _, cid in scored_cells[:nprobe]]
        cent_map = dict(centroids)
        for cid in probe_cells:
            if residual:
                qeff = [x - y for x, y in zip(qvec, cent_map[cid])]
            else:
                qeff = qvec
            lut = [
                [
                    _py_sq_dist(qeff[s * d : (s + 1) * d], cvec)
                    for _, cvec in codebooks[s]
                ]
                for s in range(md)
            ]
            lut_rows.append((r["query_id"], cid, lut))
    spark = corpus.sparkSession
    probes = spark.createDataFrame(
        lut_rows,
        schema=f"query_id {qid_type}, centroid_id int,"
        " _lut array<array<double>>",
    )
    pairs = enc.join(F.broadcast(probes), "centroid_id").filter(
        not_self(F.col("query_id"), F.col("nbr_id"))
    )
    adc = sum(
        F.element_at(
            F.element_at(F.col("_lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        )
        for s in range(md)
    )
    scored = pairs.select(
        "query_id",
        "nbr_id",
        stable_round(F.lit(-1.0) * adc, 4).alias("score"),
    )
    candidates = scored.mapInPandas(
        _partition_local_topk(k_candidates, score_col="score"),
        schema=scored.schema,
    )
    cand_k = _rank_topk(candidates, k_candidates, score_col="score")
    if not rescore:
        return cand_k.filter(F.col("rank") <= k)
    c = nrm.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("_cvec"),
    )
    q2 = qn.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    )
    resc = (
        cand_k.select("query_id", "nbr_id")
        .join(c, "nbr_id")
        .join(F.broadcast(q2), "query_id")
        .select(
            "query_id",
            "nbr_id",
            stable_round(
                dot(F.col("_qvec"), F.col("_cvec"))
                / (l2norm(F.col("_qvec")) * l2norm(F.col("_cvec"))),
                4,
            ).alias("score"),
        )
    )
    return _rank_topk(resc, k, score_col="score")


def _with_residual(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "cvec_v",
    out_col: str = "rvec",
) -> DataFrame:
    """assigned + ``rvec`` = vector − its cell centroid (elementwise, via a
    broadcast k-row centroid join — zero shuffle on the corpus side)."""
    spark = assigned.sparkSession
    cdf = spark.createDataFrame(
        [(cid, cvec) for cid, cvec in centroids],
        schema="centroid_id INT, _cent array<double>",
    )
    return (
        assigned.join(F.broadcast(cdf), "centroid_id")
        .withColumn(
            out_col,
            F.zip_with(F.col(vec_col), F.col("_cent"), lambda x, y: x - y),
        )
        .drop("_cent")
    )
