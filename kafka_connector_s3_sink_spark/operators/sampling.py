"""Deterministic sampling and splitting operators for training-data pipelines.

A 100 TB corpus is never sampled with ``rand()``: resumable pipelines need the
SAME rows selected on every re-run, on every executor, with no shared state.
Every operator here derives its randomness from ``md5(seed ':' id)`` — a pure
column expression, identical in DuckDB (so every operator is oracle-checkable),
stable across Spark versions, and free of any driver-side RNG.

The hash-uniformity contract: the first 4 hex chars of md5 give a uniform
integer in [0, 65536); thresholding it at ``fraction * 65536`` is a
deterministic Bernoulli draw, and ordering by the full hex digest is a
deterministic shuffle. The same construction already drives the IVF
quantizer's fit sample (similarity.py) — one idiom everywhere.

All operators are single-expression column transforms or one-shuffle window
plans; nothing collects to the driver.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_SPACE = 1 << 16  # first 4 md5 hex chars → uniform in [0, 65536)


def hash_bucket(id_col: Column, seed: str) -> Column:
    """Uniform integer in [0, 65536) from md5('<seed>:<id>') — the shared
    randomness primitive (DuckDB twin:
    ``CAST('0x' || substr(md5(...), 1, 4) AS INTEGER)``)."""
    digest = F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))
    return F.conv(F.substring(digest, 1, 4), 16, 10).cast("int")


UNIT_SPACE = 1 << 52  # first 13 md5 hex chars → uniform in [0, 2^52)


def hash_unit(id_col: Column, seed: str) -> Column:
    """Uniform double in (0, 1) from the first 13 md5 hex chars (52 bits —
    still exactly representable as a double, and still one CAST in the
    DuckDB twin: ``(CAST('0x' || substr(md5(...), 1, 13) AS BIGINT) + 0.5)
    / 4503599627370496.0``). Use this for CONTINUOUS selection keys
    (exponential race, Gumbel): the 16-bit ``hash_bucket`` is fine for
    threshold filters but quantizes a continuous draw to 65536 values, so
    equal-weight rows tie and the deterministic tie-break systematically
    favors low-sorting ids."""
    digest = F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))
    v = F.conv(F.substring(digest, 1, 13), 16, 10).cast("double")
    return (v + F.lit(0.5)) / float(UNIT_SPACE)


def shuffle_key(id_col: Column, seed: str) -> Column:
    """Full md5 digest — a deterministic global shuffle order for training-data
    serving. ``orderBy(shuffle_key(...))`` plans a range-partitioned sort
    (Exchange rangepartitioning), which scales: Spark samples partition bounds
    and sorts each range independently — no single-task funnel."""
    return F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))


def hash_split(
    df: DataFrame,
    weights: Mapping[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Assign every row a stable train/val/test ``split`` label by hash-bucket
    thresholds (cumulative weights over the 65536-bucket space).

    The split is a property of the ROW, not of the run: a document keeps its
    split across reprocessing, appends, and repartitioning — the invariant
    that prevents train/test leakage when a 100 TB corpus is rebuilt
    incrementally. Narrow map, zero shuffles."""
    weights = dict(weights or {"train": 0.9, "val": 0.05, "test": 0.05})
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    bucket = hash_bucket(F.col(id_col), seed)
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        bound = int(acc * HASH_SPACE)
        expr = (
            F.when(bucket < bound, F.lit(name))
            if expr is None
            else expr.when(bucket < bound, F.lit(name))
        )
    last = F.lit(names[-1])
    return df.withColumn("split", last if expr is None else expr.otherwise(last))


def mixture_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
    epoch_col: str | None = None,
) -> DataFrame:
    """Deterministic dataset-mixing filter: serve each source's rows at its
    own rate — the training-mixture knob ("2.3× wiki, 0.1× crawl") applied as
    one narrow md5-threshold filter. Sources not listed are dropped (an
    explicit mixture IS the whitelist). Zero shuffles, scan-pushable, and —
    like every sampler here — a pure function of (id, seed): re-runs,
    appends, and repartitioning select the identical row set, so epoch N+1 of
    an incremental rebuild serves the same mixture as epoch N.

    Rates ≤ 1 down-sample: keep iff ``hash_bucket(id) < rate·65536``.

    Rates > 1 UP-sample by deterministic replication (the C4/Pile practice of
    over-weighting scarce high-quality sources): rate 2.3 serves ``floor`` = 2
    full copies of every row plus a 0.3 hash-Bernoulli third copy. Replicated
    rows need distinct identity downstream (packing, shuffling), so the
    caller must name an ``epoch_col``; output rows carry copy index
    0..⌈rate⌉-1 there. The fractional epoch reuses the SAME bucket threshold
    as the ≤ 1 path, which buys two invariants for free: (a) restricting a
    2.3× mixture to its last epoch yields exactly the 0.3× mixture's rows,
    and (b) growing a rate only ever ADDS (row, epoch) pairs — nesting, never
    reshuffling. Replication is a narrow per-source ``explode(sequence)`` —
    still zero shuffles, and the blow-up is the mixture weight itself (there
    is no free lunch: 2.3× wiki IS 2.3× the bytes downstream).

    With ``epoch_col=None`` (the default) rates above 1.0 are rejected so the
    pre-r8 fixed-schema contract — and its exact row-set — is unchanged."""
    for name, rate in rates.items():
        if rate < 0.0:
            raise ValueError(
                f"mixture rate for {name!r} must be >= 0, got {rate}"
            )
        if rate > 1.0 and epoch_col is None:
            raise ValueError(
                f"mixture rate for {name!r} is {rate} > 1 (up-sampling): "
                "replicated rows need distinct identity — pass epoch_col"
            )
    if not rates:
        raise ValueError("mixture rates must name at least one source")
    bucket = hash_bucket(F.col(id_col), seed)
    src = F.col(source_col)
    if epoch_col is None:
        expr: Column | None = None
        for name, rate in rates.items():
            cond = (src == name) & (bucket < int(rate * HASH_SPACE))
            expr = cond if expr is None else expr | cond
        return df.filter(expr)
    # replication path: explode each row into its source's ceil(rate) copy
    # slots, then keep slot e iff e < floor(rate) (a full epoch) or e is the
    # fractional epoch and the shared bucket clears the fractional threshold
    n_slots: Column = F.lit(0)
    keep: Column | None = None
    for name, rate in rates.items():
        n_full = int(rate)
        frac = rate - n_full
        n_slots = F.when(src == name, F.lit(max(n_full + (frac > 0), 1))).otherwise(
            n_slots
        )
        cond = (src == name) & (
            (F.col(epoch_col) < n_full)
            | ((F.col(epoch_col) == n_full) & (bucket < int(frac * HASH_SPACE)))
        )
        keep = cond if keep is None else keep | cond
    return (
        df.filter(src.isin(*rates))  # drop unlisted sources before exploding
        .withColumn(epoch_col, F.explode(F.sequence(F.lit(0), n_slots - 1)))
        .filter(keep)
    )


def cap_per_domain(
    df: DataFrame,
    domain_col: str,
    max_per_domain: int,
    id_col: str = "doc_id",
    priority_col: str | None = None,
    n_salts: int | None = None,
) -> DataFrame:
    """C4-style corpus balancing: keep at most ``max_per_domain`` documents
    per domain, deterministically. Adds ``domain_rank`` (1-based keep order)
    and ``kept`` to the input frame; filter on ``kept`` to apply the cap.

    Keep order is ``priority_col`` DESC when given (cap keeps the
    highest-quality pages), else the md5 shuffle key — either way the keep
    SET is a pure function of the data, so re-runs and backfills select the
    same documents on any cluster. Null domains (unparseable URLs) form
    their own capped group rather than escaping the quota.

    Scale: the plain path is ONE window shuffle on the domain key. A hot
    domain (a billion-page site) funnels into a single task there, so
    ``n_salts`` enables the two-phase top-K: rank within (domain, salt)
    first — salt derived from the id hash, so placement is deterministic —
    discard beyond K per salt, then rank the surviving ≤ K·n_salts rows per
    domain. The second window's per-domain input is bounded by K·n_salts
    regardless of domain size; the keep set is identical to the plain path
    because per-salt rank-≤-K survival preserves every row the global
    order could keep. (The salted variant pre-discards rows that provably
    cannot be kept, so unlike the plain path its output omits most
    ``kept=false`` rows — filter on ``kept`` either way.)"""
    order_key = (
        [F.col(priority_col).desc()] if priority_col is not None else []
    ) + [shuffle_key(F.col(id_col), "domain_cap").asc(), F.col(id_col).asc()]
    if n_salts is None:
        w = Window.partitionBy(domain_col).orderBy(*order_key)
        ranked = df.withColumn("domain_rank", F.row_number().over(w))
    else:
        salt = hash_bucket(F.col(id_col), "domain_cap_salt") % n_salts
        w1 = Window.partitionBy(domain_col, "_salt").orderBy(*order_key)
        w2 = Window.partitionBy(domain_col).orderBy(*order_key)
        ranked = (
            df.withColumn("_salt", salt)
            .withColumn("_salt_rank", F.row_number().over(w1))
            .filter(F.col("_salt_rank") <= max_per_domain)
            .withColumn("domain_rank", F.row_number().over(w2))
            .drop("_salt", "_salt_rank")
        )
    return ranked.withColumn("kept", F.col("domain_rank") <= max_per_domain)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: the k rows with
    the largest exponential-race keys ``ln(u) / w`` (Efraimidis & Spirakis
    2006 — equivalent to their ``u^(1/w)`` ordering, taken in log space so
    large weights can't underflow), with ``u`` the md5-uniform draw of the
    row id. Inclusion probability is proportional to ``weight_col`` in the
    without-replacement sense; the draw is a pure function of (id, seed),
    so re-runs select the identical set on any partitioning.

    The corpus-engineering use: down-select to a quality-weighted subset
    ("keep 10M docs, preferring high classifier scores") without the
    hard-threshold cliff a filter introduces.

    Plan: one narrow key expression + ORDER BY/LIMIT — Spark plans
    TakeOrderedAndProject (per-partition top-k, k-row merge), no global
    sort, nothing driver-side. Rows with weight <= 0 are excluded (their
    selection key is undefined — matching the E-S contract)."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    key = F.log(hash_unit(F.col(id_col), seed)) / F.col(weight_col).cast(
        "double"
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


def temperature_mixture_rates(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.3,
    scale: float = 1.0,
    max_rate: float | None = None,
) -> dict[str, float]:
    """Temperature-based multilingual mixture rates (the XLM-R recipe,
    Conneau et al. 2020, public): resample group g with probability
    ``q_g ∝ p_g^alpha`` where ``p_g`` is its corpus share — alpha < 1 flattens
    the distribution, up-weighting low-resource languages. Returns the
    per-group rate map for ``mixture_sample`` such that the EXPECTED total
    equals ``scale × corpus size``: ``rate_g = scale · q_g / p_g``
    (so high-resource groups down-sample and low-resource groups replicate;
    pass the result with an ``epoch_col`` when any rate exceeds 1, or cap
    with ``max_rate`` to bound the replication blow-up).

    The aggregation is one tiny groupBy (|groups| rows to the driver — a
    language/source legend, never data); the heavy lifting stays in
    ``mixture_sample``'s narrow filter."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    if total == 0:
        raise ValueError("empty corpus: no groups to weight")
    p = {g: n / total for g, n in counts.items()}
    q_raw = {g: pg**alpha for g, pg in p.items()}
    z = sum(q_raw.values())
    rates = {g: scale * (q_raw[g] / z) / p[g] for g in p}
    if max_rate is not None:
        rates = {g: min(r, max_rate) for g, r in rates.items()}
    return rates


def cluster_safe_split(
    df: DataFrame,
    clusters: DataFrame,
    weights: Mapping[str, float] | None = None,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    seed: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: hash the near-duplicate CLUSTER id
    instead of the document id, so every member of a duplicate cluster lands
    in the SAME split. Plain per-doc ``hash_split`` lets two near-copies
    straddle train/val — the classic silent eval-contamination bug a dedup
    pass that keeps one-per-cluster doesn't fix when the kept doc and an
    un-clustered late arrival differ.

    ``clusters`` is (doc_id, cluster_id) — ``dedup.connected_components``
    output (or any blocking). Docs absent from ``clusters`` are singletons:
    their own id is the cluster key, so the assignment degenerates to
    ``hash_split`` exactly — running this with an empty cluster table IS
    ``hash_split`` (pinned by test).

    One left equi-join on the id (AQE broadcasts the cluster table when it
    is small — it holds only docs that have near-dups); the split expression
    itself stays the same zero-shuffle md5-threshold column."""
    c = clusters.select(
        F.col(id_col).alias("_csid"), F.col(cluster_col).alias("_ckey")
    )
    joined = df.join(c, df[id_col] == c["_csid"], "left").drop("_csid")
    key = F.coalesce(F.col("_ckey").cast("string"), F.col(id_col).cast("string"))
    out = hash_split(
        joined.withColumn("_skey", key), weights, id_col="_skey", seed=seed
    )
    return out.drop("_skey", "_ckey")


def split_leakage_report(
    split_df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    left_col: str = "doc_id_a",
    right_col: str = "doc_id_b",
) -> DataFrame:
    """Audit a split against near-duplicate evidence: one row per candidate
    pair whose two documents landed in DIFFERENT splits — the pairs that
    leak training content into evaluation. Empty result = leakage-free
    (which ``cluster_safe_split`` guarantees by construction for the pairs
    its cluster table covers; this report is the independent check, and the
    tool that quantifies the damage for a split you inherited).

    Two equi-joins of the pair list against the (id → split) projection —
    pair lists are the candidate generator's output (band/block-bounded),
    never all-pairs of the corpus."""
    s = split_df.select(
        F.col(id_col).alias("_id"), F.col(split_col).alias("_split")
    )
    return (
        pairs.join(s, pairs[left_col] == s["_id"])
        .withColumnRenamed("_split", "split_a")
        .drop("_id")
        .join(s, pairs[right_col] == s["_id"])
        .withColumnRenamed("_split", "split_b")
        .drop("_id")
        .filter(F.col("split_a") != F.col("split_b"))
    )
