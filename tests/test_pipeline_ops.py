"""Training-pipeline operators: deterministic sampling/splitting, sequence
packing, and compaction. The sampling/packing layouts are value-checked
against DuckDB twins of the same md5-derived expressions (the same oracle
style as the driver gate)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import packing, sampling

DOCS = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001") + "/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).select("doc_id", "text", "lang", "source")


def test_hash_split_matches_duckdb(docs):
    got = {
        (r["doc_id"], r["split"])
        for r in sampling.hash_split(
            docs, {"train": 0.8, "val": 0.1, "test": 0.1}
        ).select("doc_id", "split").collect()
    }
    want = {
        (int(d), s)
        for d, s in duckdb.sql(
            f"""
            SELECT doc_id,
              CASE
                WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                     < CAST(floor(0.8 * 65536) AS INTEGER) THEN 'train'
                WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                     < CAST(floor(0.9 * 65536) AS INTEGER) THEN 'val'
                ELSE 'test'
              END AS split
            FROM '{DOCS}'
            """
        ).fetchall()
    }
    assert got == want
    by_split = {}
    for _, s in got:
        by_split[s] = by_split.get(s, 0) + 1
    # uniform hash: 500 docs at 80/10/10 should land within loose tolerance
    assert 330 <= by_split["train"] <= 470
    assert by_split["val"] >= 10 and by_split["test"] >= 10


def test_mixture_sample_matches_duckdb(docs):
    """Dataset mixing: per-source keep rates over the shared md5 bucket
    space; unlisted sources dropped; deterministic across re-runs."""
    rates = {"src1": 0.5, "src2": 1.0}
    got = sorted(
        r["doc_id"]
        for r in sampling.mixture_sample(docs, rates, seed="mx").collect()
    )
    want = sorted(
        int(r[0])
        for r in duckdb.connect().execute(
            f"""
            SELECT doc_id FROM read_parquet('{DOCS}')
            WHERE (source = 'src1' AND
                   CAST('0x' || substr(md5('mx:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        AS INTEGER) < {int(0.5 * 65536)})
               OR (source = 'src2' AND
                   CAST('0x' || substr(md5('mx:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        AS INTEGER) < 65536)
            """
        ).fetchall()
    )
    assert got == want and 0 < len(got) < docs.count()
    # re-run identical; sources outside the mixture never appear
    again = sorted(
        r["doc_id"]
        for r in sampling.mixture_sample(docs, rates, seed="mx").collect()
    )
    assert again == got
    kept_sources = {
        r["source"]
        for r in sampling.mixture_sample(docs, rates, seed="mx")
        .select("source").distinct().collect()
    }
    assert kept_sources <= {"src1", "src2"}

    with pytest.raises(ValueError, match="pass epoch_col"):
        sampling.mixture_sample(docs, {"src1": 1.5})
    with pytest.raises(ValueError, match="at least one"):
        sampling.mixture_sample(docs, {})


def test_mixture_upsample_matches_duckdb(docs):
    """Rates > 1 replicate deterministically: 2.3× serves 2 full copies +
    a 0.3 hash-Bernoulli third, each tagged with its epoch index. The
    DuckDB twin cross-joins each row against its source's epoch slots."""
    rates = {"src1": 2.3, "src2": 0.4}
    out = sampling.mixture_sample(
        docs, rates, seed="mx", epoch_col="epoch"
    )
    got = sorted(
        (r["doc_id"], r["epoch"]) for r in out.collect()
    )
    want = sorted(
        (int(d), int(e))
        for d, e in duckdb.connect().execute(
            f"""
            WITH b AS (
                SELECT doc_id, source,
                    CAST('0x' || substr(md5('mx:' || CAST(doc_id AS VARCHAR)), 1, 4)
                         AS INTEGER) AS bucket
                FROM read_parquet('{DOCS}')
            )
            SELECT doc_id, e FROM b, (SELECT unnest(range(0, 3)) AS e)
            WHERE (source = 'src1' AND (e < 2 OR (e = 2 AND bucket < {int(0.3 * 65536)})))
               OR (source = 'src2' AND e = 0 AND bucket < {int(0.4 * 65536)})
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0
    ids = [d for d, _ in got]
    # every src1 row appears >= 2 times; src2 at most once
    n_src1 = {r["doc_id"] for r in docs.filter(F.col("source") == "src1").collect()}
    for d in n_src1:
        assert ids.count(d) in (2, 3)
    # invariant (a): the fractional epoch IS the 0.3x mixture of that source
    frac_ids = {d for d, e in got if e == 2}
    plain_03 = {
        r["doc_id"]
        for r in sampling.mixture_sample(docs, {"src1": 0.3}, seed="mx").collect()
    }
    assert frac_ids == plain_03
    # invariant (b): growing a rate only adds (row, epoch) pairs
    grown = {
        (r["doc_id"], r["epoch"])
        for r in sampling.mixture_sample(
            docs, {"src1": 2.6, "src2": 0.4}, seed="mx", epoch_col="epoch"
        ).collect()
    }
    assert set(got) <= grown
    # rerun-stable
    again = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
    assert again == got
    # integer rate: exact copies, no fractional epoch
    two = [
        (r["doc_id"], r["epoch"])
        for r in sampling.mixture_sample(
            docs, {"src1": 2.0}, seed="mx", epoch_col="epoch"
        ).collect()
    ]
    assert sorted({e for _, e in two}) == [0, 1]
    assert len(two) == 2 * len(n_src1)


def test_cap_per_domain_salted_matches_plain(docs):
    """The two-phase (salted) top-K keeps the IDENTICAL document set as the
    one-window plain path — per-salt survival can never discard a row the
    global order would keep — and null domains are capped like any group."""
    from pyspark.sql import functions as F

    d = docs.withColumn(
        "domain",
        F.when(F.col("doc_id") % 17 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("site"), (F.col("doc_id") % 3).cast("string"), F.lit(".com"))
        ),
    )
    plain = sampling.cap_per_domain(d, "domain", 5)
    salted = sampling.cap_per_domain(d, "domain", 5, n_salts=4)
    kept_plain = {r["doc_id"] for r in plain.filter("kept").collect()}
    kept_salted = {r["doc_id"] for r in salted.filter("kept").collect()}
    assert kept_plain == kept_salted
    per_domain = (
        plain.filter("kept").groupBy("domain").count().collect()
    )
    assert all(r["count"] <= 5 for r in per_domain)
    assert any(r["domain"] is None for r in per_domain)  # nulls capped too
    # determinism under a different physical layout
    kept_again = {
        r["doc_id"]
        for r in sampling.cap_per_domain(d.repartition(7), "domain", 5)
        .filter("kept").collect()
    }
    assert kept_again == kept_plain


def test_cap_per_domain_priority_order(spark):
    """With a priority column the cap keeps the highest-priority rows."""
    rows = [(i, "d.com", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "score"])
    kept = {
        r["doc_id"]
        for r in sampling.cap_per_domain(
            df, "domain", 3, priority_col="score"
        ).filter("kept").collect()
    }
    assert kept == {7, 8, 9}
    salted = {
        r["doc_id"]
        for r in sampling.cap_per_domain(
            df, "domain", 3, priority_col="score", n_salts=3
        ).filter("kept").collect()
    }
    assert salted == {7, 8, 9}


def test_cap_per_domain_matches_duckdb(docs):
    """Keep-set parity with DuckDB's row_number over the same md5 order —
    the operator's exact keep semantics are portable SQL."""
    from pyspark.sql import functions as F

    d = docs.withColumn(
        "domain",
        F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string"), F.lit(".org")),
    )
    got = sorted(
        r["doc_id"]
        for r in sampling.cap_per_domain(d, "domain", 7).filter("kept").collect()
    )
    want = sorted(
        int(x)
        for (x,) in duckdb.sql(
            f"""
            SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (
                    PARTITION BY 's' || CAST(doc_id % 4 AS VARCHAR) || '.org'
                    ORDER BY md5('domain_cap:' || CAST(doc_id AS VARCHAR)), doc_id
                ) AS rk
                FROM '{DOCS}'
            ) WHERE rk <= 7
            """
        ).fetchall()
    )
    assert got == want


CTX = 512
PACK_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
        len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
        CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 32 AS shard,
        md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord
    FROM '{DOCS}' WHERE trim(text) <> ''
),
loc AS (
    SELECT *, sum(n_tokens) OVER (
        PARTITION BY shard ORDER BY ord, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum FROM t
),
tot AS (SELECT shard, sum(n_tokens) AS st FROM t GROUP BY shard),
off AS (
    SELECT shard, coalesce(sum(st) OVER (
        ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS off FROM tot
),
placed AS (
    SELECT doc_id, n_tokens, CAST(off + cum - n_tokens AS BIGINT) AS strt
    FROM loc JOIN off USING (shard)
),
seg AS (
    SELECT doc_id, n_tokens, strt,
        unnest(range(strt // {CTX}, (strt + n_tokens - 1) // {CTX} + 1)) AS pack_id
    FROM placed
)
SELECT doc_id, n_tokens, pack_id,
    greatest(strt, pack_id * {CTX}) - pack_id * {CTX} AS pack_pos,
    greatest(strt, pack_id * {CTX}) - strt AS doc_offset,
    least(strt + n_tokens, (pack_id + 1) * {CTX}) - greatest(strt, pack_id * {CTX}) AS seg_tokens
FROM seg
"""


def test_pack_sequences_matches_duckdb(docs):
    got = {
        tuple(r)
        for r in packing.pack_sequences(docs, CTX)
        .select("doc_id", "n_tokens", "pack_id", "pack_pos", "doc_offset", "seg_tokens")
        .collect()
    }
    want = {tuple(int(v) for v in row) for row in duckdb.sql(PACK_ORACLE).fetchall()}
    assert got == want


def test_pack_sequences_invariants(docs):
    packed = packing.pack_sequences(docs, CTX).collect()
    # every document's segments cover exactly its tokens, in order
    by_doc = {}
    for r in packed:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for segs in by_doc.values():
        segs.sort(key=lambda r: r["pack_id"])
        assert sum(s["seg_tokens"] for s in segs) == segs[0]["n_tokens"]
        assert segs[0]["doc_offset"] == 0
        for a, b in zip(segs, segs[1:]):
            assert b["pack_id"] == a["pack_id"] + 1  # contiguous packs
            assert b["doc_offset"] == a["doc_offset"] + a["seg_tokens"]
            assert b["pack_pos"] == 0  # continuation segments start a pack
    # every pack except the last is exactly full
    by_pack = {}
    for r in packed:
        by_pack[r["pack_id"]] = by_pack.get(r["pack_id"], 0) + r["seg_tokens"]
    last = max(by_pack)
    assert set(by_pack) == set(range(last + 1))  # dense pack ids
    for pid, toks in by_pack.items():
        assert toks == CTX or pid == last
    # segments within a pack tile it without gaps or overlaps
    slots = {}
    for r in packed:
        slots.setdefault(r["pack_id"], []).append((r["pack_pos"], r["seg_tokens"]))
    for pid, ss in slots.items():
        ss.sort()
        pos = 0
        for p, n in ss:
            assert p == pos
            pos += n
        assert pos == (CTX if pid != last else by_pack[last])


def test_pack_sequences_per_doc_overhead(docs):
    """per_doc_overhead models tokenizer framing: every document occupies
    token_count + overhead slots, so total packed tokens grow by exactly
    n_docs × overhead and all tiling invariants still hold."""
    plain = packing.pack_sequences(docs, CTX).collect()
    eos = packing.pack_sequences(docs, CTX, per_doc_overhead=1).collect()
    n_docs = len({r["doc_id"] for r in plain})
    assert len({r["doc_id"] for r in eos}) == n_docs  # nothing dropped
    assert (
        sum(r["seg_tokens"] for r in eos)
        == sum(r["seg_tokens"] for r in plain) + n_docs
    )
    per_doc = {}
    for r in eos:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["seg_tokens"]
    plain_per_doc = {}
    for r in plain:
        plain_per_doc[r["doc_id"]] = (
            plain_per_doc.get(r["doc_id"], 0) + r["seg_tokens"]
        )
    assert all(per_doc[d] == plain_per_doc[d] + 1 for d in per_doc)
    # non-final packs stay exactly full
    by_pack = {}
    for r in eos:
        by_pack[r["pack_id"]] = by_pack.get(r["pack_id"], 0) + r["seg_tokens"]
    last = max(by_pack)
    assert all(t == CTX for p, t in by_pack.items() if p != last)


def test_pack_stats(docs):
    stats = {
        r["pack_id"]: (r["n_docs"], r["pack_tokens"], r["fill_ratio"])
        for r in packing.pack_stats(packing.pack_sequences(docs, CTX), CTX).collect()
    }
    full = [v for pid, v in stats.items() if pid != max(stats)]
    assert all(toks == CTX and ratio == 1.0 for _, toks, ratio in full)


def test_compaction_plan_bins(spark):
    files = spark.createDataFrame(
        [(f"part-{i:03d}", 60) for i in range(10)], ["path", "bytes"]
    )
    plan = packing.compaction_plan(files, target_bytes=100).collect()
    bins = {}
    for r in plan:
        bins.setdefault(r["bin"], []).append((r["path"], r["bytes"]))
    # path order within and across bins is preserved
    ordered = [p for b in sorted(bins) for p, _ in sorted(bins[b])]
    assert ordered == sorted(ordered)
    totals = {b: sum(n for _, n in fs) for b, fs in bins.items()}
    last = max(bins)
    # byte-range bins: totals deviate from target by at most one file (60 B)
    for b, tot in totals.items():
        if b != last:
            assert 100 - 60 <= tot <= 100 + 60
    assert sum(totals.values()) == 600  # nothing dropped or duplicated


def test_list_files_matches_local_stat(spark, tmp_path):
    # the Hadoop FS listing must agree with the local filesystem on both
    # membership (hidden _SUCCESS/.crc excluded) and byte sizes
    src = str(tmp_path / "src")
    spark.range(100).repartition(4).write.parquet(src)
    listed = {
        r["path"].removeprefix("file:"): r["bytes"]
        for r in packing.list_files(spark, src).collect()
    }
    on_disk = {
        os.path.join(src, f): os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if not f.startswith(("_", "."))
    }
    assert listed == on_disk


def test_compact_parquet_round_trip(spark, tmp_path):
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    df = spark.range(2000).withColumn("payload", F.md5(F.col("id").cast("string")))
    df.repartition(20).write.parquet(src)
    n_small = len(spark.read.parquet(src).inputFiles())
    assert n_small >= 20
    total = sum(
        os.path.getsize(p.removeprefix("file:"))
        for p in spark.read.parquet(src).inputFiles()
    )
    n_out = packing.compact_parquet(spark, src, dest, target_bytes=total // 3)
    assert n_out in (3, 4)
    assert len(spark.read.parquet(dest).inputFiles()) == n_out
    a = {tuple(r) for r in spark.read.parquet(src).collect()}
    b = {tuple(r) for r in spark.read.parquet(dest).collect()}
    assert a == b


def test_compact_parquet_synthetic_listing(spark, tmp_path):
    # a caller-supplied listing df (e.g. a metadata table on a store where
    # listing is expensive) drives the plan instead of the FS client, and the
    # plan's bins — not a round-robin — decide which source files group
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    df = spark.range(1200).withColumn("payload", F.md5(F.col("id").cast("string")))
    df.repartition(12).write.parquet(src)
    listing = packing.list_files(spark, src)
    # perturb into a synthetic listing: same files, sizes replaced by a
    # constant — 12 equal files at target 4 units/bin → exactly 3 bins
    synthetic = listing.select("path", F.lit(10).alias("bytes"))
    n_out = packing.compact_parquet(
        spark, src, dest, target_bytes=40, listing=synthetic
    )
    assert n_out == 3
    assert len(spark.read.parquet(dest).inputFiles()) == 3
    a = {tuple(r) for r in spark.read.parquet(src).collect()}
    b = {tuple(r) for r in spark.read.parquet(dest).collect()}
    assert a == b


def test_weighted_sample_matches_python_and_duckdb(spark):
    import hashlib
    import math

    rows = [(i, 10.0 if i % 5 == 0 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = sampling.weighted_sample(df, k=40, weight_col="w").collect()
    assert len(got) == 40

    def key(i, w):
        u = (int(hashlib.md5(f"wsample:{i}".encode()).hexdigest()[:13], 16) + 0.5) / 4503599627370496.0
        return math.log(u) / w

    want = sorted(rows, key=lambda r: key(*r), reverse=True)[:40]
    assert sorted(r.doc_id for r in got) == sorted(i for i, _ in want)
    for r in got:
        assert r.sample_key == pytest.approx(key(r.doc_id, r.w), rel=1e-12)
    # heavier rows (20% of the corpus at 10x weight) dominate the sample
    heavy = sum(1 for r in got if r.w == 10.0)
    assert heavy > 25
    # rerun-stable
    again = sampling.weighted_sample(df, k=40, weight_col="w").collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in got)
    # duckdb twin of the full chain
    duck = duckdb.sql(
        """
        SELECT doc_id FROM (
            SELECT doc_id, w,
              ln((CAST('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 13)
                   AS BIGINT) + 0.5) / 4503599627370496.0) / w AS k
            FROM (SELECT unnest(range(0, 200)) AS doc_id,
                  CASE WHEN unnest(range(0, 200)) % 5 = 0 THEN 10.0 ELSE 1.0 END AS w)
            ORDER BY k DESC, doc_id LIMIT 40
        )
        """
    ).fetchall()
    assert sorted(r.doc_id for r in got) == sorted(d for (d,) in duck)
    # zero/negative weights are excluded, k validated
    df2 = spark.createDataFrame([(1, 0.0), (2, -1.0), (3, 5.0)], ["doc_id", "w"])
    assert [r.doc_id for r in sampling.weighted_sample(df2, 3, "w").collect()] == [3]
    with pytest.raises(ValueError):
        sampling.weighted_sample(df, 0, "w")


def test_temperature_mixture_rates(spark):
    # 80/15/5 split over three languages
    rows = (
        [(i, "en") for i in range(80)]
        + [(i + 100, "fr") for i in range(15)]
        + [(i + 200, "sw") for i in range(5)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = sampling.temperature_mixture_rates(df, alpha=0.3)
    # alpha < 1 flattens: scarce languages up-weight, dominant down-weight
    assert rates["sw"] > rates["fr"] > rates["en"]
    assert rates["en"] < 1.0 < rates["sw"]
    # expected total preserved: sum over groups n_g * rate_g == scale * N
    n = {"en": 80, "fr": 15, "sw": 5}
    assert sum(n[g] * r for g, r in rates.items()) == pytest.approx(100.0)
    # hand-check against the closed form q_g ∝ p_g^alpha, rate = q/p
    p = {g: c / 100 for g, c in n.items()}
    z = sum(pg**0.3 for pg in p.values())
    for g in n:
        assert rates[g] == pytest.approx((p[g] ** 0.3 / z) / p[g], rel=1e-12)
    # alpha=1 is the identity mixture
    flat = sampling.temperature_mixture_rates(df, alpha=1.0)
    for g in n:
        assert flat[g] == pytest.approx(1.0)
    # cap bounds the replication blow-up
    capped = sampling.temperature_mixture_rates(df, alpha=0.3, max_rate=2.0)
    assert capped["sw"] == 2.0
    # composes with mixture_sample's replication path end-to-end
    mixed = sampling.mixture_sample(
        df, capped, source_col="lang", epoch_col="ep"
    )
    by_lang = {
        r.lang: r.n for r in
        mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_lang["sw"] > 5  # replicated
    assert by_lang["en"] < 80  # down-sampled
    with pytest.raises(ValueError):
        sampling.temperature_mixture_rates(df, alpha=0.0)


def test_cluster_safe_split_and_leakage_report(spark):
    import hashlib

    def bucket(key):
        return int(hashlib.md5(f"split:{key}".encode()).hexdigest()[:4], 16)

    # find two ids that plain hash_split separates (train vs not-train)
    thr = int(0.5 * 65536)
    a = next(i for i in range(1000) if bucket(str(i)) < thr)
    b = next(i for i in range(1000) if bucket(str(i)) >= thr)
    extra = [i for i in range(1000, 1020)]
    rows = [(a,), (b,)] + [(i,) for i in extra]
    df = spark.createDataFrame(rows, ["doc_id"])
    weights = {"train": 0.5, "val": 0.5}
    pairs = spark.createDataFrame([(a, b)], ["doc_id_a", "doc_id_b"])
    clusters = spark.createDataFrame(
        [(a, min(a, b)), (b, min(a, b))], ["doc_id", "cluster_id"]
    )

    # plain per-doc split leaks the (a, b) near-dup pair across splits
    plain = sampling.hash_split(df, weights)
    leaks = sampling.split_leakage_report(plain, pairs).collect()
    assert len(leaks) == 1 and {leaks[0].split_a, leaks[0].split_b} == {
        "train", "val"
    }

    # cluster-keyed split puts the whole cluster in one split; report empty
    safe = sampling.cluster_safe_split(df, clusters, weights)
    by_id = {r.doc_id: r.split for r in safe.collect()}
    assert by_id[a] == by_id[b]
    assert sampling.split_leakage_report(safe, pairs).count() == 0

    # singletons degrade to hash_split EXACTLY (empty cluster table)
    empty = spark.createDataFrame([], "doc_id long, cluster_id long")
    degen = {
        r.doc_id: r.split
        for r in sampling.cluster_safe_split(df, empty, weights).collect()
    }
    assert degen == {r.doc_id: r.split for r in plain.collect()}
    # schema: no helper columns leak into the output
    assert set(safe.columns) == {"doc_id", "split"}
