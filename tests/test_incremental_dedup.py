"""Incremental dedup against the persisted bucketed fingerprint index:
classification ladder (exact → LSH candidates → Jaccard verify), bucketed
plan shape (history side never reshuffles), and index append round-trip."""

import hashlib

import pytest
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import incremental

PREFIX = "dixtest"
N_FRESH = 5
FRESH_BASE = 20_000  # far above any base-derived id (base + 9500 tops out < 20k at test SFs)


def _fresh_text(i: int, n_words: int = 40) -> str:
    """Deterministic word salad with hex words — shares no shingle with the
    synthetic corpus, so it must classify as 'keep'."""
    return " ".join(
        hashlib.md5(f"fresh:{i}:{j}".encode()).hexdigest()[:8] for j in range(n_words)
    )


@pytest.fixture(scope="module")
def index(spark, sf_dir, tmp_path_factory):
    loc = str(tmp_path_factory.mktemp("dedup-index"))
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    incremental.build_dedup_index(base, PREFIX, loc, num_buckets=4)
    yield base, loc
    incremental.drop_dedup_index(spark, PREFIX)


def _new_batch(spark, base):
    exact = (
        base.filter(F.col("doc_id") % 100 == 0)
        .select((F.col("doc_id") + 9000).alias("doc_id"), "text")
    )
    near = (
        base.filter(F.col("doc_id") % 100 == 7)
        .select(
            (F.col("doc_id") + 9500).alias("doc_id"),
            F.regexp_replace(F.col("text"), r"\s+\S+\s*$", "").alias("text"),
        )
    )
    fresh = spark.createDataFrame(
        [(FRESH_BASE + i, _fresh_text(i)) for i in range(N_FRESH)], ["doc_id", "text"]
    )
    return exact.unionByName(near).unionByName(fresh)


def test_hot_band_guard(spark, tmp_path):
    """max_band_df drops bands hotter than the cap on the history side: a
    batch doc whose only matching bands come from mass-duplicated
    boilerplate classifies 'keep' under the cap (bounded recall loss,
    bounded join fan-out), 'near_dup' without it."""
    # 30 byte-identical boilerplate docs: every band they emit has df=30, so
    # every band a near-copy can MATCH is hot — the worst-case template page
    boiler = "terms of service apply to all content on this site " * 3
    base = spark.createDataFrame(
        [(i, boiler) for i in range(30)], ["doc_id", "text"]
    )
    loc = str(tmp_path / "hotidx")
    incremental.build_dedup_index(base, "hotidx", loc, num_buckets=4)
    try:
        batch = spark.createDataFrame(
            [(900, boiler + "page brand-new")], ["doc_id", "text"]
        )
        plain = incremental.incremental_dedup(
            batch, "hotidx", jaccard_threshold=0.5
        ).collect()[0]
        assert plain["status"] == "near_dup"
        capped = incremental.incremental_dedup(
            batch, "hotidx", jaccard_threshold=0.5, max_band_df=10
        ).collect()[0]
        assert capped["status"] == "keep"
    finally:
        incremental.drop_dedup_index(spark, "hotidx")


def test_compact_dedup_index(spark, tmp_path):
    """Index compaction folds per-epoch appends into one batch partition:
    classifications identical, fewer files, bucketed join plan preserved
    (still no Exchange over the index side), replay of the same compaction
    id is a no-op."""
    import hashlib as _h

    def txt(tag):
        return " ".join(
            _h.md5(f"{tag}:{j}".encode()).hexdigest()[:8] for j in range(30)
        )

    base = spark.createDataFrame(
        [(i, txt(f"c:{i}")) for i in range(8)], ["doc_id", "text"]
    )
    loc = str(tmp_path / "cidx")
    incremental.build_dedup_index(base, "cmpidx", loc, num_buckets=4)
    try:
        for e in range(2):
            incremental.append_to_index(
                spark.createDataFrame(
                    [(100 + 10 * e + j, txt(f"e{e}:{j}")) for j in range(3)],
                    ["doc_id", "text"],
                ),
                "cmpidx",
                loc,
                num_buckets=4,
                batch_id=f"ep{e}",
            )
        batch = spark.createDataFrame(
            [(500, txt("c:3")), (501, txt("e1:1")), (502, txt("new"))],
            ["doc_id", "text"],
        )
        before = sorted(
            map(tuple, incremental.incremental_dedup(batch, "cmpidx").collect())
        )
        files_before = len(spark.table("cmpidx_hashes").inputFiles())

        incremental.compact_dedup_index(
            spark, "cmpidx", loc, num_buckets=4, compact_batch_id="c1"
        )
        after = sorted(
            map(tuple, incremental.incremental_dedup(batch, "cmpidx").collect())
        )
        assert after == before
        assert len(spark.table("cmpidx_hashes").inputFiles()) < files_before
        batches = {
            r["batch_id"]
            for r in spark.table("cmpidx_hashes").select("batch_id").distinct().collect()
        }
        assert batches == {"c1"}

        # bucketed plan preserved: history side still reads pre-partitioned
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            h = spark.table("cmpidx_hashes")
            probe = base.selectExpr(
                "md5(cast(trim(regexp_replace(lower(text), '\\\\s+', ' ')) as binary))"
                " as content_hash",
                "doc_id",
            ).join(h, "content_hash")
            plan = probe._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

        # replaying the SAME compaction id is a no-op
        rows = spark.table("cmpidx_hashes").count()
        incremental.compact_dedup_index(
            spark, "cmpidx", loc, num_buckets=4, compact_batch_id="c1"
        )
        assert spark.table("cmpidx_hashes").count() == rows

        # the swap retired the ORIGINAL data dirs but left them on disk;
        # the reaper removes exactly those, never the live __compact_c1 dirs
        import os as _os

        dry = incremental.reap_stale_index_locations(
            spark, "cmpidx", loc, dry_run=True
        )
        assert len(dry) == len(incremental._TABLES), dry
        assert all("__compact_c1" not in p for p in dry)
        reaped = incremental.reap_stale_index_locations(spark, "cmpidx", loc)
        assert reaped == dry
        remaining = sorted(_os.listdir(loc))
        assert all(d.endswith("__compact_c1") for d in remaining), remaining
        # index still fully functional after the reap
        assert sorted(
            map(tuple, incremental.incremental_dedup(batch, "cmpidx").collect())
        ) == after
    finally:
        incremental.drop_dedup_index(spark, "cmpidx")


def test_compaction_protects_replayable_epochs(spark, tmp_path):
    """The streaming-replay contract survives compaction: epochs inside the
    checkpoint horizon (protect_batch_ids) keep their own partitions — a
    replayed epoch still prunes its own fingerprints via exclude_batch_id —
    while older history folds; and exclude_batch_docs is the
    partition-agnostic backstop when an epoch WAS folded."""
    import hashlib as _h

    def txt(tag):
        return " ".join(
            _h.md5(f"{tag}:{j}".encode()).hexdigest()[:8] for j in range(30)
        )

    base = spark.createDataFrame(
        [(i, txt(f"c:{i}")) for i in range(6)], ["doc_id", "text"]
    )
    loc = str(tmp_path / "pidx")
    incremental.build_dedup_index(base, "pridx", loc, num_buckets=4)
    try:
        # epoch-1 appended (streaming first attempt), still replayable
        ep_docs = spark.createDataFrame(
            [(200 + j, txt(f"e1:{j}")) for j in range(3)], ["doc_id", "text"]
        )
        incremental.append_to_index(
            ep_docs, "pridx", loc, num_buckets=4, batch_id="epoch-1"
        )

        incremental.compact_dedup_index(
            spark, "pridx", loc, num_buckets=4, compact_batch_id="fold-1",
            protect_batch_ids=["epoch-1"],
        )
        batches = {
            r["batch_id"]
            for r in spark.table("pridx_hashes").select("batch_id").distinct().collect()
        }
        assert batches == {"fold-1", "epoch-1"}

        # replay of epoch-1: with its partition intact, exclude_batch_id
        # keeps the replay blind to its own fingerprints → all keep
        replay = incremental.incremental_dedup(
            ep_docs, "pridx", exclude_batch_id="epoch-1"
        )
        assert {r["status"] for r in replay.collect()} == {"keep"}

        # now fold EVERYTHING (simulating the unguarded mistake): the
        # partition filter has nothing to prune, but exclude_batch_docs
        # still classifies the replay identically
        incremental.compact_dedup_index(
            spark, "pridx", loc, num_buckets=4, compact_batch_id="fold-2"
        )
        naked = incremental.incremental_dedup(
            ep_docs, "pridx", exclude_batch_id="epoch-1"
        )
        assert {r["status"] for r in naked.collect()} == {"exact_dup"}  # the trap
        guarded = incremental.incremental_dedup(
            ep_docs, "pridx", exclude_batch_id="epoch-1", exclude_batch_docs=True
        )
        assert {r["status"] for r in guarded.collect()} == {"keep"}
    finally:
        incremental.drop_dedup_index(spark, "pridx")


def test_adversarial_texts_classify_cleanly(spark, tmp_path):
    """Empty, whitespace-only, and non-ASCII documents flow through the whole
    ladder: empty and whitespace both normalize to the empty string (one
    duplicate class, min-id winner), unicode matches exactly, fresh keeps."""
    base = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, ""),
            (3, "   "),
            (4, "émoji \U0001f600 text ünicode test"),
        ],
        ["doc_id", "text"],
    )
    loc = str(tmp_path / "adv-index")
    incremental.build_dedup_index(base, "advidx", loc, num_buckets=4)
    try:
        batch = spark.createDataFrame(
            [
                (10, ""),
                (11, "  \t "),
                (12, "émoji \U0001f600 text ünicode test"),
                (13, "wholly fresh content here"),
            ],
            ["doc_id", "text"],
        )
        out = sorted(
            (r["doc_id"], r["status"], r["dup_of"])
            for r in incremental.incremental_dedup(batch, "advidx").collect()
        )
        assert out == [
            (10, "exact_dup", 2),
            (11, "exact_dup", 2),
            (12, "exact_dup", 4),
            (13, "keep", None),
        ]
    finally:
        incremental.drop_dedup_index(spark, "advidx")


def test_incremental_classification(spark, index):
    base, _ = index
    out = incremental.incremental_dedup(
        _new_batch(spark, base), PREFIX, jaccard_threshold=0.8
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    n_batch = _new_batch(spark, base).count()
    assert len(by_id) == n_batch  # every new doc classified exactly once

    for r in by_id.values():
        if 9000 <= r["doc_id"] < 9500:
            assert r["status"] == "exact_dup"
            assert r["dup_of"] == r["doc_id"] - 9000
            assert r["jaccard"] is None
        elif 9500 <= r["doc_id"] < FRESH_BASE:
            assert r["status"] == "near_dup", r
            assert r["dup_of"] == r["doc_id"] - 9500
            assert r["jaccard"] >= 0.8
        else:
            assert r["status"] == "keep", r
            assert r["dup_of"] is None and r["jaccard"] is None


def test_index_side_join_does_not_reshuffle_history(spark, index):
    base, _ = index
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        new_h = _new_batch(spark, base).select(
            F.md5(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
            ).alias("content_hash"),
            "doc_id",
        )
        joined = new_h.join(spark.table(f"{PREFIX}_hashes"), "content_hash")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan  # history scan keeps its bucket layout
        # exactly ONE Exchange: the new batch shuffles into the bucket
        # partitioning; the (multi-TB at scale) index side has none
        assert plan.count("Exchange") == 1, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_append_then_reclassify(spark, index):
    base, loc = index
    batch = _new_batch(spark, base)
    first = incremental.incremental_dedup(batch, PREFIX, jaccard_threshold=0.8)
    keepers = batch.join(
        first.filter(F.col("status") == "keep").select("doc_id"), "doc_id"
    )
    n_keep = keepers.count()
    assert n_keep == N_FRESH  # only the synthetic fresh docs survive the ladder
    incremental.append_to_index(keepers, PREFIX, loc, num_buckets=4, batch_id="b1")

    again = incremental.incremental_dedup(
        batch, PREFIX, jaccard_threshold=0.8
    ).collect()
    for r in again:
        if r["doc_id"] >= FRESH_BASE:
            # the appended keepers are now history: re-seeing them is an exact hit
            assert r["status"] == "exact_dup" and r["dup_of"] == r["doc_id"]

    # idempotence: replaying the SAME batch_id (the at-least-once retry case)
    # must change neither the index contents nor the classifications
    counts_before = {
        t: spark.table(f"{PREFIX}_{t}").count() for t in incremental._TABLES
    }
    incremental.append_to_index(keepers, PREFIX, loc, num_buckets=4, batch_id="b1")
    counts_after = {
        t: spark.table(f"{PREFIX}_{t}").count() for t in incremental._TABLES
    }
    assert counts_after == counts_before
    replay = sorted(
        (r["doc_id"], r["status"], r["dup_of"])
        for r in incremental.incremental_dedup(
            batch, PREFIX, jaccard_threshold=0.8
        ).collect()
    )
    assert replay == sorted((r["doc_id"], r["status"], r["dup_of"]) for r in again)


def test_decontaminate_against_index(spark, tmp_path_factory):
    """Index-backed decontamination: leaks into a new eval set are found from
    the persisted shingle table without re-shingling the corpus, and the
    executed plan never shuffles the index side (benchmark broadcasts)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from kafka_connector_s3_sink_spark.operators.incremental import (
        build_dedup_index,
        decontaminate_against_index,
        drop_dedup_index,
    )

    loc = str(tmp_path_factory.mktemp("decon_idx"))
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=2, text="one two three four five six seven eight nine"),
            Row(doc_id=3, text="totally unrelated content about other things"),
        ]
    )
    build_dedup_index(corpus, "decon", loc, num_buckets=4, database="decon_db")
    try:
        bench = spark.createDataFrame(
            [
                Row(doc_id=101, text="alpha beta gamma delta epsilon zeta eta"),
                Row(doc_id=102, text="qqq www eee rrr ttt yyy uuu"),
            ]
        )
        res = decontaminate_against_index(
            bench, "decon", database="decon_db", min_overlap_ratio=0.5
        )
        rows = {(r["hist_id"], r["bench_id"]): r["overlap_ratio"]
                for r in res.collect()}
        assert rows == {(1, 101): 1.0}
        # parity with the batch form on the same corpus: the same rows, with
        # hist_id in place of corpus_id
        from kafka_connector_s3_sink_spark.operators import dedup

        batch = dedup.decontamination_matches(corpus, bench, min_overlap_ratio=0.5)
        assert batch.columns == ["corpus_id"] + res.columns[1:]
        assert res.columns[0] == "hist_id"
        assert sorted(map(tuple, res.collect())) == sorted(
            map(tuple, batch.collect())
        )
        # plan contract: the index scan feeds its join directly — walking UP
        # from the decon_shingles FileScan toward the root, a (broadcast)
        # Join appears before any hash Exchange, i.e. the multi-TB index
        # side is never shuffled; only the post-join pair rows are
        final = res._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final
        lines = final.splitlines()
        scan_line = next(
            i for i, l in enumerate(lines) if "decon_shingles" in l
        )

        def indent(l):
            return len(l) - len(l.lstrip(" :+-*(0123456789)"))

        cur = indent(lines[scan_line])
        for i in range(scan_line - 1, -1, -1):
            if indent(lines[i]) >= cur:
                continue
            cur = indent(lines[i])
            body = lines[i].strip(" :+-")
            if "Join" in body:
                break  # reached the join with no Exchange in between
            assert "Exchange hashpartitioning" not in body, lines[i]
    finally:
        drop_dedup_index(spark, "decon", database="decon_db")


def test_near_decontaminate_against_index(spark, tmp_path_factory):
    """Index-backed NEAR decontamination: a paraphrased eval doc is caught
    from the persisted band+shingle tables (symmetric Jaccard over band
    candidates), and neither index table's scan shuffles — the bounded
    benchmark side broadcasts into both joins."""
    from pyspark.sql import Row

    from kafka_connector_s3_sink_spark.operators.incremental import (
        build_dedup_index,
        drop_dedup_index,
        near_decontaminate_against_index,
    )

    loc = str(tmp_path_factory.mktemp("ndecon_idx"))
    doc1 = " ".join(f"tok{i}" for i in range(30))
    para = " ".join("changed" if i == 15 else f"tok{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text=doc1),
            Row(doc_id=2, text="totally unrelated content about other things"),
        ]
    )
    build_dedup_index(corpus, "ndecon", loc, num_buckets=4, database="nd_db")
    try:
        bench = spark.createDataFrame(
            [
                Row(doc_id=201, text=para),
                Row(doc_id=202, text=" ".join(f"dk{i}" for i in range(30))),
            ]
        )
        res = near_decontaminate_against_index(
            bench, "ndecon", database="nd_db", jaccard_threshold=0.4
        )
        rows = {
            (r["hist_id"], r["bench_id"]): (r["n_inter"], r["jaccard"])
            for r in res.collect()
        }
        assert rows == {(1, 201): (25, 0.8065)}
        # parity with the batch form on the same corpus: the same rows, with
        # hist_id in place of corpus_id
        from kafka_connector_s3_sink_spark.operators import dedup

        batch = dedup.near_decontamination_matches(
            corpus, bench, jaccard_threshold=0.4
        )
        assert batch.columns == ["corpus_id"] + res.columns[1:]
        assert res.columns[0] == "hist_id"
        assert sorted(map(tuple, res.collect())) == sorted(
            map(tuple, batch.collect())
        )
        # plan contract: walking UP from each index FileScan, a (broadcast)
        # Join appears before any hash Exchange — the multi-TB index sides
        # never shuffle
        final = res._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final
        lines = final.splitlines()

        def indent(l):
            return len(l) - len(l.lstrip(" :+-*(0123456789)"))

        for tbl in ("ndecon_bands", "ndecon_shingles"):
            scan_line = next(i for i, l in enumerate(lines) if tbl in l)
            cur = indent(lines[scan_line])
            for i in range(scan_line - 1, -1, -1):
                if indent(lines[i]) >= cur:
                    continue
                cur = indent(lines[i])
                body = lines[i].strip(" :+-")
                if "Join" in body:
                    break
                assert "Exchange hashpartitioning" not in body, lines[i]
    finally:
        drop_dedup_index(spark, "ndecon", database="nd_db")


def test_semantic_decontaminate_against_index(spark, tmp_path_factory):
    """Index-backed SEMANTIC decontamination (third rung): a scaled-copy
    embedding (identical hyperplane signs, cosine 1.0) is caught from the
    persisted embsig/embvec tables; far vectors are not; the result matches
    the batch form (`dedup.semantic_decontamination_matches`) exactly;
    neither index scan grows an Exchange below it; appends are idempotent
    per batch_id."""
    from pyspark.sql import Row

    from kafka_connector_s3_sink_spark.operators import dedup
    from kafka_connector_s3_sink_spark.operators.incremental import (
        append_to_embedding_index,
        build_embedding_index,
        drop_dedup_index,
        semantic_decontaminate_against_index,
    )

    loc = str(tmp_path_factory.mktemp("sem_idx"))
    base = [3.0, -2.0, 5.0, -4.0, 2.5, -3.5, 4.0, -2.0]
    far = [5.0, 5.0, -5.0, 5.0, -5.0, -5.0, 5.0, 5.0]
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, embedding=[2.0 * x for x in base]),  # semantic leak
            Row(doc_id=2, embedding=far),
            Row(doc_id=3, embedding=[-x for x in base]),       # anti-parallel
        ]
    )
    build_embedding_index(
        corpus, "sem", loc, num_buckets=4, dim=8, database="sem_db"
    )
    try:
        bench = spark.createDataFrame([Row(doc_id=901, embedding=base)])
        res = semantic_decontaminate_against_index(
            bench, "sem", dim=8, database="sem_db"
        )
        rows = {(r["hist_id"], r["bench_id"]): r["cosine"] for r in res.collect()}
        assert rows == {(1, 901): 1.0}
        # parity with the batch form on identical inputs
        batch_rows = {
            (r["corpus_id"], r["bench_id"]): r["cosine"]
            for r in dedup.semantic_decontamination_matches(
                corpus.select(
                    F.col("doc_id").alias("vec_id"), "embedding"
                ),
                bench.select(F.col("doc_id").alias("vec_id"), "embedding"),
                dim=8,
            ).collect()
        }
        assert batch_rows == rows
        # plan contract: walking UP from each index FileScan, a (broadcast)
        # Join appears before any hash Exchange — the multi-TB index sides
        # never shuffle
        final = res._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final
        lines = final.splitlines()

        def indent(l):
            return len(l) - len(l.lstrip(" :+-*(0123456789)"))

        for tbl in ("sem_embsig", "sem_embvec"):
            scan_line = next(i for i, l in enumerate(lines) if tbl in l)
            cur = indent(lines[scan_line])
            for i in range(scan_line - 1, -1, -1):
                if indent(lines[i]) >= cur:
                    continue
                cur = indent(lines[i])
                body = lines[i].strip(" :+-")
                if "Join" in body:
                    break
                assert "Exchange hashpartitioning" not in body, lines[i]
        # idempotent append: replaying a batch_id does not double-insert
        extra = spark.createDataFrame(
            [Row(doc_id=4, embedding=[x * 0.5 for x in base])]
        )
        for _ in range(2):
            append_to_embedding_index(
                extra, "sem", loc, num_buckets=4, dim=8,
                batch_id="epoch-1", database="sem_db",
            )
        n = spark.table("sem_db.sem_embvec").count()
        assert n == 4  # 3 base + 1 appended, not 5
        flagged = {
            r["hist_id"]
            for r in semantic_decontaminate_against_index(
                bench, "sem", dim=8, database="sem_db"
            ).collect()
        }
        assert flagged == {1, 4}
    finally:
        drop_dedup_index(spark, "sem", database="sem_db")


def test_compaction_folds_semantic_tables(spark, tmp_path):
    """The semantic signature tables join the compaction fold when they
    exist: after compact + reap, semantic decontam answers are identical,
    both tables hold only the compacted partition, and the reaper retires
    the five retired directories (3 lexical + 2 semantic)."""
    import hashlib as _h

    from pyspark.sql import Row

    def txt(tag):
        return " ".join(
            _h.md5(f"{tag}:{j}".encode()).hexdigest()[:8] for j in range(30)
        )

    base_vec = [3.0, -2.0, 5.0, -4.0, 2.5, -3.5, 4.0, -2.0]
    docs = spark.createDataFrame(
        [(i, txt(f"s:{i}")) for i in range(4)], ["doc_id", "text"]
    )
    vecs = spark.createDataFrame(
        [
            Row(doc_id=0, embedding=[2.0 * x for x in base_vec]),
            Row(doc_id=1, embedding=[-x for x in base_vec]),
        ]
    )
    loc = str(tmp_path / "semcidx")
    incremental.build_dedup_index(docs, "semcmp", loc, num_buckets=4)
    incremental.build_embedding_index(
        vecs, "semcmp", loc, num_buckets=4, dim=8
    )
    try:
        incremental.append_to_embedding_index(
            spark.createDataFrame(
                [Row(doc_id=7, embedding=[0.5 * x for x in base_vec])]
            ),
            "semcmp",
            loc,
            num_buckets=4,
            dim=8,
            batch_id="ep0",
        )
        bench = spark.createDataFrame([Row(doc_id=901, embedding=base_vec)])
        before = sorted(
            map(
                tuple,
                incremental.semantic_decontaminate_against_index(
                    bench, "semcmp", dim=8
                ).collect(),
            )
        )
        assert [r[0] for r in before] == [0, 7]
        incremental.compact_dedup_index(
            spark, "semcmp", loc, num_buckets=4, compact_batch_id="c1"
        )
        after = sorted(
            map(
                tuple,
                incremental.semantic_decontaminate_against_index(
                    bench, "semcmp", dim=8
                ).collect(),
            )
        )
        assert after == before
        for tbl in ("semcmp_embsig", "semcmp_embvec"):
            batches = {
                r["batch_id"]
                for r in spark.table(tbl).select("batch_id").distinct().collect()
            }
            assert batches == {"c1"}, (tbl, batches)
        reaped = incremental.reap_stale_index_locations(spark, "semcmp", loc)
        assert len(reaped) == 5, reaped  # 3 lexical + embsig + embvec
        assert after == sorted(
            map(
                tuple,
                incremental.semantic_decontaminate_against_index(
                    bench, "semcmp", dim=8
                ).collect(),
            )
        )
    finally:
        incremental.drop_dedup_index(spark, "semcmp")


def test_embedding_index_geometry_pin(spark, tmp_path):
    """The semantic index pins its plane geometry in <prefix>_embparams:
    a mismatched append fails loudly, the decontam reader derives planes
    from the pin (wrong caller args can't silently band with drifted
    hyperplanes), and a cold-start append creates the pin."""
    from pyspark.sql import Row

    from kafka_connector_s3_sink_spark.operators.incremental import (
        append_to_embedding_index,
        build_embedding_index,
        drop_dedup_index,
        semantic_decontaminate_against_index,
    )

    base = [3.0, -2.0, 5.0, -4.0, 2.5, -3.5, 4.0, -2.0]
    loc = str(tmp_path / "pin_idx")
    corpus = spark.createDataFrame(
        [Row(doc_id=1, embedding=[2.0 * x for x in base])]
    )
    build_embedding_index(corpus, "pin", loc, num_buckets=2, dim=8)
    try:
        pinned = spark.table("pin_embparams").collect()[0]
        assert (pinned["dim"], pinned["n_bands"], pinned["band_planes"]) == (8, 4, 8)
        with pytest.raises(ValueError, match="geometry mismatch"):
            append_to_embedding_index(
                corpus, "pin", loc, num_buckets=2, dim=8, n_bands=2,
                batch_id="e1",
            )
        bench = spark.createDataFrame([Row(doc_id=901, embedding=base)])
        # caller passes WRONG geometry; the pin wins and the leak is found
        got = {
            r["hist_id"]
            for r in semantic_decontaminate_against_index(
                bench, "pin", dim=16, n_bands=1, band_planes=3
            ).collect()
        }
        assert got == {1}
    finally:
        drop_dedup_index(spark, "pin")
    # cold start through append: the pin is created with the append's values
    loc2 = str(tmp_path / "pin2")
    append_to_embedding_index(
        corpus, "pin2", loc2, num_buckets=2, dim=8, n_bands=2, batch_id="e0"
    )
    try:
        p2 = spark.table("pin2_embparams").collect()[0]
        assert (p2["dim"], p2["n_bands"], p2["band_planes"]) == (8, 2, 8)
        with pytest.raises(ValueError, match="geometry mismatch"):
            append_to_embedding_index(
                corpus, "pin2", loc2, num_buckets=2, dim=8, batch_id="e1"
            )
    finally:
        drop_dedup_index(spark, "pin2")
