"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
LLM-pipeline extensions; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL
for each (column names aliased identically on both sides). Sink-surface
queries run over the canonical Kafka-record view of ``events``
(records.KAFKA_VIEW_SQL ≙ records.kafka_records_from_events).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.config import CompressionType, EngineConfig, FormatType, OutputField
from kafka_connector_s3_sink_spark.operators import dedup, grouping, projection, relational
from kafka_connector_s3_sink_spark.operators import multimodal, packing, sampling, search, similarity, text as text_ops
from kafka_connector_s3_sink_spark.operators import serving as serving_ops
from kafka_connector_s3_sink_spark.operators import tokenizer as tokenizer_ops
from kafka_connector_s3_sink_spark.formats import avro
from kafka_connector_s3_sink_spark.records import KAFKA_VIEW_SQL, kafka_records_from_events, with_synthetic_headers
from kafka_connector_s3_sink_spark.sinks.writer import prepare_with_filenames
from kafka_connector_s3_sink_spark.operators import urls as _urls_mod
from kafka_connector_s3_sink_spark.streaming import sessions

# URL-branch regexes interpolated into BOTH the Spark ops (via the module)
# and the DuckDB oracle below — single source of truth, engines can't drift
_URL_HOST_RE = _urls_mod._HOST_RE
_URL_TRACKING_RE = _urls_mod._TRACKING_PARAM_RE

from kafka_connector_s3_sink_spark.operators.quality import (  # noqa: E402
    PINNED_WEIGHTS_V1 as _QCLF_W,
)

# learned-model weights inlined into BOTH the Spark chain and the DuckDB
# oracle from the same constant — keeping the two scoring chains in sync
_QCLF_W_SQL = "[" + ", ".join(repr(x) for x in _QCLF_W) + "]"
_URL_THREE_RE = (
    r"([^.]+\.(?:" + "|".join(t.replace(".", r"\.") for t in _urls_mod._TWO_PART_TLDS) + r"))$"
)

# ---------------------------------------------------------------------------
# shared fixtures

ALL_FIELDS_CONFIG = EngineConfig(
    output_fields=(
        OutputField.VALUE,
        OutputField.KEY,
        OutputField.TIMESTAMP,
        OutputField.OFFSET,
    )
)

KAFKA_CTE = f"kafka AS ({KAFKA_VIEW_SQL})"

# near-duplicate corpus: documents ∪ tail-trimmed copies of every 10th doc
CORPUS_CTE = r"""corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '\s+\S+\s*$', '') AS text
    FROM documents WHERE doc_id % 10 = 0
)"""

# exact-duplicate corpus: documents ∪ identical copies of every 10th doc
EXACT_CORPUS_CTE = """corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)"""

NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
TOKS = rf"regexp_split_to_array({NORM}, '\s+')"
STOPWORDS_SQL = "('" + "','".join(text_ops.STOPWORDS) + "')"

# shingles of the normalized text: md5 of word 3-grams (k=3)
SHINGLES_SQL = (
    "list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1), "
    "i -> md5(array_to_string(w[i+1:i+3], ' '))))"
)



def _overlap(spark: SparkSession, **branches):
    """Run independent eager branch constructors on driver threads (guide
    §2.6) so one branch's small jobs back-fill executors the other leaves
    idle. Each branch's jobs are labelled with its name (job descriptions
    are thread-local) so overlapped jobs stay distinguishable in the UI
    when debugging stragglers (ADVICE r15). Returns results keyed by name."""
    def run(name, fn):
        spark.sparkContext.setJobDescription(name)
        try:
            return fn()
        finally:
            spark.sparkContext.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = {n: pool.submit(run, n, fn) for n, fn in branches.items()}
        return {n: f.result() for n, f in futs.items()}

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic PII/multi-line enrichment: the synthetic
    corpus is single-line word-salad with no PII-shaped spans, so the redaction
    and line-repetition branches of ``text.analyze`` would be identically-zero
    at the gate. A doc_id-keyed suffix (emails on ≡0 mod 7, id/card numbers on
    mod 11, IP+phone on mod 13, duplicated lines on mod 5) is appended
    IDENTICALLY here and in the oracle SQL (``PII_ENRICH_SQL``), so the gate
    value-checks real redactions, not a wall of zeros."""
    did = F.col("doc_id")
    enriched = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0, F.lit(" id 123-45-6789 card 1234-5678-9012-3456")
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (did % 256).cast("string"),
                F.lit(".1 call +1415555"),
                F.lpad((did % 1000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("\nrepeat line\nrepeat line\nunique "), did.cast("string")
            ),
        ).otherwise(F.lit("")),
    )
    return spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text", enriched
    )


# the oracle-side twin of _pii_docs (chr(10) = the \n Spark injects)
PII_ENRICH_SQL = (
    "concat(text, "
    "CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com now' ELSE '' END, "
    "CASE WHEN doc_id % 11 = 0 THEN ' id 123-45-6789 card 1234-5678-9012-3456'"
    " ELSE '' END, "
    "CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.1 call +1415555' || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0')"
    " ELSE '' END, "
    "CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'repeat line' || chr(10)"
    " || 'repeat line' || chr(10) || 'unique ' || CAST(doc_id AS VARCHAR)"
    " ELSE '' END)"
)


def _pii_sql_chain() -> tuple[dict[str, str], str]:
    """DuckDB twins of ``text.redact_pii_columns``: per-type count expressions
    over the progressively-redacted text, and the fully redacted text. Built
    mechanically from the same ``PII_PATTERNS`` table so the two engines can
    never drift."""
    cur = "text"
    counts: dict[str, str] = {}
    for name, pat, token in text_ops.PII_PATTERNS:
        counts[f"n_pii_{name}"] = f"len(regexp_extract_all({cur}, '{pat}'))"
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    return counts, cur


_PII_COUNTS, _PII_REDACTED = _pii_sql_chain()
_PII_COUNTS_SQL = ",\n                ".join(
    [f"{expr} AS {name}" for name, expr in _PII_COUNTS.items()]
    + [f"{_PII_REDACTED} AS text_redacted"]
)


def _lang_sql_chain(
    text_expr: str = "text", ltoks_expr: str = "ltoks"
) -> tuple[str, str]:
    """DuckDB twin of ``text.language_id_multi`` (the full two-tier
    30-language chain), built mechanically from the SAME tables and threshold
    constants the Spark chain reads — ``SCRIPT_RANGES``, ``LANGUAGE_PROFILES``,
    ``CYRILLIC_REFINEMENTS``, ``KANA/SCRIPT/LANG_MIN_RATIO`` — so the two
    engines can never drift (same discipline as ``_pii_sql_chain``).

    Returns ``(ratio_cols_sql, pick_sql)``: interpolate ``ratio_cols_sql``
    into a projection that already carries ``ltoks_expr`` (the lowercased
    whitespace-token array), then use ``pick_sql`` — which references the
    generated ``sr_* / wr_* / cyr_*`` column names — as ``lang_pred``.
    Tie behavior mirrors the Spark struct-greatest exactly: the CASE walks
    codes alphabetically, so the first code equal to the greatest ratio wins."""
    n_chars = (
        f"greatest(length(regexp_replace({text_expr}, '\\s', '', 'g')), 1)"
    )
    s_ordered = sorted(text_ops.SCRIPT_RANGES.items())
    cols = [
        f"len(regexp_extract_all({text_expr}, '[{ranges}]')) / {n_chars}"
        f" AS sr_{code}"
        for code, ranges in s_ordered
    ]
    profiles = sorted(text_ops.LANGUAGE_PROFILES.items())
    # profile words are interpolated into single-quoted SQL literals: double
    # any apostrophe (the standard SQL escape) so a future elision-bearing
    # profile word (fr/it l', d'…) cannot silently corrupt the oracle chain
    cols += [
        f"len(list_filter({ltoks_expr}, t -> t IN ("
        + ", ".join("'" + w.replace("'", "''") + "'" for w in words)
        + f"))) / greatest(len({ltoks_expr}), 1) AS wr_{code}"
        for code, words in profiles
    ]
    cyr = (
        "greatest(len(regexp_extract_all("
        f"{text_expr}, '[{text_ops.SCRIPT_RANGES['ru']}]')), 1)"
    )
    for code, markers, absent in text_ops.CYRILLIC_REFINEMENTS:
        cols.append(
            f"len(regexp_extract_all({text_expr}, '[{markers}]')) / {cyr}"
            f" AS cyr_{code}"
        )
        if absent:
            cols.append(
                f"len(regexp_extract_all({text_expr}, '[{absent}]'))"
                f" AS cyrneg_{code}"
            )
    best_s = "greatest(" + ", ".join(f"sr_{c}" for c, _ in s_ordered) + ")"
    best_w = "greatest(" + ", ".join(f"wr_{c}" for c, _ in profiles) + ")"
    refine = "CASE "
    for code, _, absent in text_ops.CYRILLIC_REFINEMENTS:
        cond = f"cyr_{code} >= {text_ops.CYRILLIC_MARKER_MIN_RATIO!r}"
        if absent:
            cond += f" AND cyrneg_{code} = 0"
        refine += f"WHEN {cond} THEN '{code}' "
    refine += "ELSE 'ru' END"
    pick = (
        f"CASE WHEN sr_ja >= {text_ops.KANA_MIN_RATIO!r} "
        f"AND sr_ja + sr_zh >= {text_ops.SCRIPT_MIN_RATIO!r} THEN 'ja' "
    )
    for code, _ in s_ordered:  # alphabetical: first equal wins the tie
        val = f"({refine})" if code == "ru" else f"'{code}'"
        pick += (
            f"WHEN {best_s} >= {text_ops.SCRIPT_MIN_RATIO!r} "
            f"AND sr_{code} = {best_s} THEN {val} "
        )
    for code, _ in profiles:
        pick += (
            f"WHEN {best_w} >= {text_ops.LANG_MIN_RATIO!r} "
            f"AND wr_{code} = {best_w} THEN '{code}' "
        )
    pick += "ELSE 'und' END"
    return ",\n                    ".join(cols), pick


_LANG_RATIO_COLS_SQL, _LANG_PICK_SQL = _lang_sql_chain()


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.with_near_duplicates(_docs(spark, sf_dir))


def q_pipeline_pack_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data layout pipeline on the (document, pack)-segment grain —
    seven branches (r8 pack/mix_pack, r9 safe_pack, r13 budget_pack/assemble,
    r15 map_ids — string->integer-id windows via tokenizer.
    map_tokens_to_ids over an oracle-derivable vocab — and r15 order — the
    per-epoch serving schedule, serving.serving_order over the pack grain,
    gated at epochs 0 AND 1 so the epoch-stable shard assignment and the
    per-epoch permutation are both hash-checked; column mapping documented
    at the branch below):

    - ``pack``: sequence packing (concat-and-chunk into ctx_len=512 context
      windows via the two-level distributed prefix sum,
      packing.pack_sequences) joined with the deterministic hash
      train/val/test split (sampling.hash_split) — the exact layout a
      trainer's data loader consumes; ``mix_epoch`` NULL.
    - ``mix_pack``: the UP-sampled mixture composed with packing — a 3-source
      mixture (src0 ×2.3, src1 ×1.0, src2 ×0.4) replicated via
      ``mixture_sample(epoch_col=...)``, each copy given a distinct packing
      identity (the composite string rep_id = '<epoch>:<doc_id>' — exact for
      any id type/width, unlike an integer doc_id·slots+epoch encode, which
      overflows 64-bit for 63-bit xxhash ids) so replicas land in
      independent stream positions, then packed and re-joined to the
      ORIGINAL document's split label — upsampled copies must never straddle
      the train/val boundary (epoch replication happens inside a split, or
      eval leaks).

    Every layout derives from md5 expressions, so the oracle reproduces both
    branches bit-for-bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = packing.pack_sequences(docs, ctx_len=512)
    split = sampling.hash_split(docs.select("doc_id"))
    pack = packed.join(split, "doc_id").select(
        "doc_id",
        "n_tokens",
        "pack_id",
        "pack_pos",
        "doc_offset",
        "seg_tokens",
        "split",
        F.lit("pack").alias("branch"),
        F.lit(None).cast("int").alias("mix_epoch"),
        F.lit(None).cast("string").alias("pack_text"),
        F.lit("").alias("pack_ids"),
    )
    mixed = sampling.mixture_sample(
        docs,
        {"src0": 2.3, "src1": 1.0, "src2": 0.4},
        epoch_col="mix_epoch",
    )
    rep = mixed.select(
        F.concat_ws(
            ":",
            F.col("mix_epoch").cast("string"),
            F.col("doc_id").cast("string"),
        ).alias("rep_id"),
        "text",
    )
    mix = (
        packing.pack_sequences(rep, ctx_len=512, id_col="rep_id")
        .withColumn(
            "mix_epoch", F.substring_index(F.col("rep_id"), ":", 1).cast("int")
        )
        .withColumn(
            "doc_id",
            F.expr("substring(rep_id, instr(rep_id, ':') + 1)").cast("long"),
        )
        .join(split, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "pack_id",
            "pack_pos",
            "doc_offset",
            "seg_tokens",
            "split",
            F.lit("mix_pack").alias("branch"),
            "mix_epoch",
            F.lit(None).cast("string").alias("pack_text"),
            F.lit("").alias("pack_ids"),
        )
    )
    # safe_pack branch (r9): the preset's LEAKAGE-SAFE split blocking,
    # hash-gated end to end — plant near-duplicates (tail-trimmed copies,
    # +100k ids), generate MinHash-LSH CANDIDATE pairs (no Jaccard verify:
    # the blocking deliberately covers pairs that would FAIL the dedup
    # threshold), connected-components them, split on the cluster key
    # (sampling.cluster_safe_split — singletons degenerate to hash_split),
    # and pack the planted corpus under those labels. The oracle replays
    # shingles → minhash → bands → candidate join → recursive closure →
    # coalesce(cluster, doc) → md5 split thresholds → the pack layout, so a
    # divergence anywhere in the blocking chain hash-fails; a planted pair
    # straddling train/val would flip its rows' split column.
    nd = dedup.with_near_duplicates(docs)
    cand_pairs = dedup.minhash_lsh_pairs(nd)
    cand_ids = (
        cand_pairs.select(F.col("id1").alias("doc_id"))
        .unionByName(cand_pairs.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    # the TWO eager pieces of this constructor — the safe_pack branch's
    # connected-components fixpoint (a chain of small checkpoint jobs) and
    # the map_ids branch's vocab collect (one TakeOrdered job over the
    # tokenized corpus) — are independent, so they run on two driver
    # threads (guide §2.6) and the vocab job back-fills executors the CC
    # rounds leave idle; the vocab itself is unchanged (same expressions,
    # same collect)
    def _vocab() -> list:
        return [tokenizer_ops.UNK_TOKEN] + [
            r["tok"]
            for r in docs.select(
                F.explode(text_ops.tokens_column(F.col("text"))).alias("tok")
            )
            .filter(F.length("tok") >= 4)
            .distinct()
            .orderBy("tok")
            .limit(20000)
            .collect()
        ]

    _res = _overlap(
        spark,
        safe_pack_cc=lambda: dedup.connected_components(cand_ids, cand_pairs),
        map_ids_vocab=_vocab,
    )
    cclusters, vocab = _res["safe_pack_cc"], _res["map_ids_vocab"]
    safe_split = sampling.cluster_safe_split(
        nd.select("doc_id").distinct(),
        cclusters.select("doc_id", "cluster_id"),
    )
    safe = (
        packing.pack_sequences(nd, ctx_len=512)
        .join(safe_split, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "pack_id",
            "pack_pos",
            "doc_offset",
            "seg_tokens",
            "split",
            F.lit("safe_pack").alias("branch"),
            F.lit(None).cast("int").alias("mix_epoch"),
            F.lit(None).cast("string").alias("pack_text"),
            F.lit("").alias("pack_ids"),
        )
    )
    # budget_pack branch (r13, VERDICT item 7): the token_count_col path —
    # pack_sequences fed a PRECOMPUTED per-document budget column (the
    # BPE-true ingest/preset path, packing.py token_count_col) instead of
    # the whitespace heuristic. The budget is a deterministic portable
    # expression (whitespace count × (3 + doc_id % 7), so every document's
    # budget DIFFERS from the heuristic by a doc-dependent factor); the
    # oracle replays the same prefix-sum layout under the same budgets, so
    # a budget-path regression (e.g. silently falling back to the text
    # heuristic) hash-fails inside this entry.
    budget_docs = docs.select(
        "doc_id",
        (
            text_ops.token_count(F.col("text")).cast("long")
            * (F.lit(3) + F.pmod(F.col("doc_id"), F.lit(7)))
        ).alias("tc"),
    )
    budget = (
        packing.pack_sequences(budget_docs, ctx_len=512, token_count_col="tc")
        .join(split, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "pack_id",
            "pack_pos",
            "doc_offset",
            "seg_tokens",
            "split",
            F.lit("budget_pack").alias("branch"),
            F.lit(None).cast("int").alias("mix_epoch"),
            F.lit(None).cast("string").alias("pack_text"),
            F.lit("").alias("pack_ids"),
        )
    )
    # assemble branch (r13): materialize each pack's token window from the
    # plain layout and hash-gate the RECONSTRUCTION — the oracle re-slices
    # every document by (doc_offset, seg_tokens) and re-concatenates in
    # slot order, so an off-by-one anywhere in the layout arithmetic (or in
    # assemble_packs' slice/ordering) diverges the pack_text value hash.
    asm_win = packing.assemble_packs(packed, docs)
    asm = asm_win.select(
        F.lit(None).cast("long").alias("doc_id"),
        F.col("pack_tokens").alias("n_tokens"),
        "pack_id",
        F.lit(None).cast("long").alias("pack_pos"),
        F.lit(None).cast("long").alias("doc_offset"),
        F.lit(None).cast("long").alias("seg_tokens"),
        F.lit(None).cast("string").alias("split"),
        F.lit("assemble").alias("branch"),
        F.lit(None).cast("int").alias("mix_epoch"),
        "pack_text",
        F.lit("").alias("pack_ids"),
    )
    # map_ids branch (r15, VERDICT item 2): the deterministic half of the
    # integer-id window surface under the oracle — a frozen token-array
    # column (the assemble branch's whitespace windows) mapped through a
    # vocab table by the REAL operator (tokenizer.map_tokens_to_ids, the
    # same Arrow-batched pass read_ingest_windows(ids=True)/
    # assemble_windows(ids=True) route through). The vocab is itself
    # oracle-derivable: the corpus's distinct tokens of length >= 4,
    # sorted, capped at 20k (bounded like a real closed vocab), UNK at id
    # 0 — short tokens deliberately fall outside it, so the unknown->0
    # path is hash-gated too. DuckDB replays unnest-with-position ->
    # vocab lookup -> string_agg ORDER BY position. The declared column is
    # a space-joined STRING (r16): a raw array<int> broke the driver's
    # pandas canonicalizer (unhashable 'list' in sort_values); non-ids
    # branches carry an EMPTY string so the column never hash-splits on
    # NULL-rendering differences across the arrow/pandas fetch path.
    # (vocab collected above, overlapped with the safe_pack CC.) Only the
    # columns the id mapping needs cross the Python boundary (guide §4):
    # this branch nulls pack_text in its output anyway, so shipping the
    # full window text through Arrow both ways was pure transfer cost.
    mid = tokenizer_ops.map_tokens_to_ids(
        asm_win.select(
            "pack_id",
            "pack_tokens",
            F.split(F.col("pack_text"), " ").alias("pack_window"),
        ),
        vocab,
        tokens_col="pack_window",
        out_col="pack_ids",
    ).select(
        F.lit(None).cast("long").alias("doc_id"),
        F.col("pack_tokens").alias("n_tokens"),
        "pack_id",
        F.lit(None).cast("long").alias("pack_pos"),
        F.lit(None).cast("long").alias("doc_offset"),
        F.lit(None).cast("long").alias("seg_tokens"),
        F.lit(None).cast("string").alias("split"),
        F.lit("map_ids").alias("branch"),
        F.lit(None).cast("int").alias("mix_epoch"),
        F.lit(None).cast("string").alias("pack_text"),
        # r16 (VERDICT item 1): the declared output carries the id sequence
        # as a space-joined STRING, not a raw array<int> — the driver's
        # pandas canonicalizer cannot sort list cells (unhashable type:
        # 'list' in CORRECTNESS_r15). Same information, hash-gated the same
        # way; the operator (map_tokens_to_ids) still returns the array.
        F.concat_ws(" ", F.col("pack_ids").cast("array<string>")).alias(
            "pack_ids"
        ),
    )
    # order branch (r15): the trainer's per-epoch serving schedule
    # (serving.serving_order) over the plain layout's pack grain —
    # epoch-stable md5 shard assignment, per-epoch md5 visit permutation,
    # global_step = shard-visit prefix offset + intra-shard position - 1
    # (a bijection onto [0, n_packs) the oracle replays with the same md5
    # + row_number + prefix-sum expressions). Two epochs gated: epoch 0
    # and epoch 1 must share shard_id per pack but differ in global_step.
    # Shared-schema column mapping (documented, same reuse pattern as the
    # assemble branch): n_tokens := pack_tokens, pack_pos := shard_id,
    # doc_offset := shard_pos, seg_tokens := global_step,
    # mix_epoch := serving epoch.
    packs_grain = serving_ops.packs_of_layout(packed)
    order_frames = []
    for _epoch in (0, 1):
        _plan = serving_ops.serving_order(
            packs_grain, n_shards=8, epoch=_epoch
        )
        order_frames.append(
            _plan.select(
                F.lit(None).cast("long").alias("doc_id"),
                F.col("pack_tokens").alias("n_tokens"),
                "pack_id",
                F.col("shard_id").alias("pack_pos"),
                F.col("shard_pos").alias("doc_offset"),
                F.col("global_step").alias("seg_tokens"),
                F.lit(None).cast("string").alias("split"),
                F.lit("order").alias("branch"),
                F.col("epoch").alias("mix_epoch"),
                F.lit(None).cast("string").alias("pack_text"),
                F.lit("").alias("pack_ids"),
            )
        )
    return (
        pack.unionByName(mix)
        .unionByName(safe)
        .unionByName(budget)
        .unionByName(asm)
        .unionByName(mid)
        .unionByName(order_frames[0])
        .unionByName(order_frames[1])
    )


_IVF_ASSIGN_CACHE: dict[tuple, DataFrame] = {}


def _q_ann_ivf_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k at nprobe=1 and nprobe=2 in one result (`nprobe` tag column),
    sharing one memoized quantizer AND one persisted corpus→centroid
    assignment (`similarity.assign_corpus`) — two probes of the same index,
    exactly how a deployment tunes the recall knob: the index (quantizer +
    assignment) is built once and probed many times, so the per-branch cost
    is the probe (bucket join + bounded window), not a fresh assignment scan
    of the corpus. Each branch's oracle recomputes the same p-bucket union."""
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = (
        corpus.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    cents = _ivf_cents(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_ASSIGN_CACHE:
        _IVF_ASSIGN_CACHE[key] = similarity.assign_corpus(corpus, cents).persist()
    assigned = _IVF_ASSIGN_CACHE[key]
    one = similarity.ivf_topk(
        corpus, queries_df, centroids=cents, assigned_corpus=assigned
    ).withColumn("nprobe", F.lit(1))
    two = similarity.ivf_topk(
        corpus, queries_df, nprobe=2, centroids=cents, assigned_corpus=assigned
    ).withColumn("nprobe", F.lit(2))
    return one.unionByName(two)


# ---------------------------------------------------------------------------
# sink-surface queries (reference operator inventory, SURVEY.md §2)


def q_sink_projection_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2: ordered field projection + base64 encoding + CSV line rendering,
    over BOTH converter shapes in one result — the StringConverter view
    (`converter='string'`) and the ByteArrayConverter view
    (`converter='bytearray'`: BinaryType key/value flow through the same
    projection with no upstream string cast — the CSV contract's native shape,
    S3SinkTaskTest.java:474-498, README.md:240-250). Same payload bytes →
    same base64 → the oracle renders each branch identically."""
    recs = kafka_records_from_events(spark, sf_dir)
    string_lines = recs.select(
        "topic",
        "partition",
        "offset",
        projection.csv_line_column(ALL_FIELDS_CONFIG).alias("csv_line"),
        F.lit("string").alias("converter"),
    )
    bin_recs = recs.withColumn("key", F.encode(F.col("key"), "UTF-8")).withColumn(
        "value", F.encode(F.col("value"), "UTF-8")
    )
    binary_lines = bin_recs.select(
        "topic",
        "partition",
        "offset",
        projection.csv_line_column(ALL_FIELDS_CONFIG, bin_recs.schema).alias(
            "csv_line"
        ),
        F.lit("bytearray").alias("converter"),
    )
    return string_lines.unionByName(binary_lines)


def _object_rows(records: DataFrame, *keys) -> DataFrame:
    """One row per ``keys`` group (an object the sink names) with its start
    offset and record count."""
    return records.groupBy(*keys).agg(
        F.min("offset").alias("start_offset"),
        F.count(F.lit(1)).alias("record_count"),
    )


def q_sink_group_topic_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3: group by (topic, partition) with start-offset file naming — the
    names the sink writes (``prepare_with_filenames``), uncompressed so no
    extension is appended."""
    recs = kafka_records_from_events(spark, sf_dir)
    cfg = EngineConfig(file_compression=CompressionType.NONE)
    return _object_rows(
        prepare_with_filenames(recs, cfg),
        "topic",
        "partition",
        F.col("_file").alias("filename"),
    ).select("topic", "partition", "start_offset", "record_count", "filename")


def q_sink_group_key_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3: last-value-per-key upsert (deterministic max-offset tiebreak) —
    two branches on the same (group_key → latest row) grain:

    - ``upsert``: the sink's key-grouped overwrite semantics.
    - ``cdc`` (r6): the SAME single-shuffle shape applied to a Debezium
      changelog — events synthesized into change rows (every 7th event a
      delete), ``streaming/cdc.cdc_snapshot`` materializes current state
      (latest image per key, deleted keys vanish); the oracle recomputes it
      with row_number + delete filter.
    - ``scd2`` (r7): the full Type-2 DIMENSION HISTORY of the same
      changelog — ``streaming/cdc.scd2_history`` stitches every version's
      validity interval with one ``lead`` window (valid_to carried in the
      entry's new nullable columns; delete events close intervals but emit
      no row); the oracle replays the identical window in SQL.
    """
    from kafka_connector_s3_sink_spark.streaming import cdc

    recs = kafka_records_from_events(spark, sf_dir)
    latest = grouping.last_value_per_key(recs)
    _no_interval = [
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(None).cast("int").alias("is_current"),
    ]
    upsert_rows = latest.select(
        F.coalesce(F.col("key"), F.lit("null")).alias("group_key"),
        "topic",
        "partition",
        "offset",
        "value",
        F.lit("upsert").alias("branch"),
        *_no_interval,
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "props"
    )
    changes = ev.select(
        F.concat(F.lit("u"), (F.col("user_id") % 50).cast("string")).alias(
            "group_key"
        ),
        F.lit("cdc").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("props").alias("value"),
        F.when(F.col("event_id") % 7 == 0, F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
        (F.col("event_id") % 7 == 0).alias("deleted"),
        F.col("event_id").alias("cdc_ts_ms"),
    )
    snap = cdc.cdc_snapshot(changes, ["group_key"], ["cdc_ts_ms"])
    cdc_rows = snap.select(
        "group_key",
        "topic",
        "partition",
        "offset",
        "value",
        F.lit("cdc").alias("branch"),
        *_no_interval,
    )
    hist = cdc.scd2_history(changes, ["group_key"], ["cdc_ts_ms"])
    scd2_rows = hist.select(
        "group_key",
        "topic",
        "partition",
        "offset",
        "value",
        F.lit("scd2").alias("branch"),
        F.col("valid_to").cast("long"),
        "is_current",
    )
    return upsert_rows.unionByName(cdc_rows).unionByName(scd2_rows)


def q_sink_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3: file.max.records chunk assignment (N=100), one row per object the
    sink names (``prepare_with_filenames``: a chunk whose records got two
    names would show as two rows)."""
    recs = kafka_records_from_events(spark, sf_dir)
    cfg = EngineConfig(file_max_records=100)
    return _object_rows(
        prepare_with_filenames(recs, cfg),
        "topic",
        "partition",
        F.col("_chunk").alias("chunk"),
        "_file",
    ).drop("_file")


def q_sink_timestamp_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3: topic+partition+timestamp grouping (record time as injected clock —
    the reference's wallclock is untestable, IntegrationTest.java:246-258)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    recs = kafka_records_from_events(spark, sf_dir)
    clock = F.timestamp_millis(F.col("timestamp"))
    return _object_rows(
        recs,
        "topic",
        "partition",
        F.date_format(clock, "yyyy").alias("ts_yyyy"),
        F.date_format(clock, "MM").alias("ts_mm"),
        F.date_format(clock, "dd").alias("ts_dd"),
    )


def q_sink_jsonl_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 JSONL rendering (JSON-document values inlined, field order kept)
    + §2.2 envelope=false single-field unwrap, merged (r4) under one gate
    entry — both produce the same (offset, json_line) grain, so they share
    the window slot, tagged by ``branch``; BOTH branches execute and are
    value-checked (the merge freed a slot for ``incremental_dedup``)."""
    recs = kafka_records_from_events(spark, sf_dir)
    full = EngineConfig(output_fields=(OutputField.VALUE, OutputField.KEY))
    bare = EngineConfig(output_fields=(OutputField.VALUE,), envelope=False)
    return recs.select(
        "offset",
        projection.json_object_column(full).alias("json_line"),
        F.lit("jsonl").alias("branch"),
    ).unionByName(
        recs.select(
            "offset",
            projection.json_object_column(bare).alias("json_line"),
            F.lit("unwrap").alias("branch"),
        )
    )


_HEADERS_RT_CACHE: dict[str, str] = {}


_WARC_FIXTURE_CACHE: dict[str, str] = {}


def _reap_headers_rt_dirs() -> None:
    """atexit: remove the per-process roundtrip object stores so repeated
    gate/bench runs don't accumulate one temp dir per (process, sf_dir)."""
    import shutil

    for cache in (_HEADERS_RT_CACHE, _WARC_FIXTURE_CACHE):
        for d in cache.values():
            shutil.rmtree(d, ignore_errors=True)
        cache.clear()


import atexit as _atexit  # noqa: E402 — colocated with the cache it reaps

_atexit.register(_reap_headers_rt_dirs)


def q_sink_headers_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2: header serialization b64(key):b64(value);… — two branches on the
    (branch, offset, headers_csv) grain:

    - ``render``: direct Column rendering (the original entry).
    - ``roundtrip`` (r5): write the records as exactly-named gzip CSV objects
      (``sinks/writer.write_batch``), re-ingest them with the read-back source
      (``sources/objects.read_sink_objects`` — binaryFile scan, write-side
      codec decompress, JVM field parse incl. the headers inverse), and
      re-render the PARSED headers. Equality with the oracle proves the full
      write → storage → read → parse cycle is lossless, not just the
      serializer expression.
    """
    import tempfile

    from kafka_connector_s3_sink_spark.sinks.writer import write_batch
    from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects

    recs = with_synthetic_headers(kafka_records_from_events(spark, sf_dir))
    rendered = recs.select(
        F.lit("render").alias("branch"),
        "offset",
        projection.headers_csv_column().alias("headers_csv"),
    )
    cfg = EngineConfig(output_fields=(OutputField.OFFSET, OutputField.HEADERS))
    dest = _HEADERS_RT_CACHE.get(sf_dir)
    if dest is None:  # objects written once per process; the READ runs every call
        dest = tempfile.mkdtemp(prefix="gate_headers_rt_")
        write_batch(recs, cfg, dest)
        _HEADERS_RT_CACHE[sf_dir] = dest
    back = read_sink_objects(spark, dest, cfg, parse_names=False)
    roundtrip = back.select(
        F.lit("roundtrip").alias("branch"),
        "offset",
        projection.headers_csv_column(F.col("headers")).alias("headers_csv"),
    )
    return rendered.unionByName(roundtrip)


_INCR_INDEX_CACHE: dict[str, str] = {}
_INCR_CACHE_REGISTRY: list = []


def release_caches() -> None:
    """Drop the deferred persist()s of the last q_incremental_dedup call
    (and, r8, text_corpus_stats' dsir gram cache — same contract).

    The classification ladder persists intermediates that must stay cached
    until the RESULT DataFrame is materialized (the query fn returns lazily),
    so the query can't unpersist them itself. Callers that materialize and
    move on (bench loops, the driver gate) call this between queries so one
    entry's cached blocks don't occupy the block manager while the next
    entry's timing runs — the r4 `pipeline_pack_split` regression was exactly
    this interference. q_incremental_dedup also self-releases on re-entry."""
    for cached in _INCR_CACHE_REGISTRY:
        cached.unpersist()
    _INCR_CACHE_REGISTRY.clear()


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup vs the persisted bucketed fingerprint index
    (``operators/incremental.py``), registered r4 so the one major r3
    operator verified only by pytest gets a DuckDB oracle. The documents
    table is the accepted HISTORY (index built once per sf_dir, cached —
    classification, the part under test, runs fully every call); the planted
    batch holds exact copies (+500k of ids ≡3 mod 10), tail-trimmed near
    copies (+600k of ≡6), and fresh synthetic docs (+700k of ≡9, five
    md5-derived tokens). The oracle composes the same ladder — hash join →
    band join (minus exacts) → candidate Jaccard ≥0.8 with
    (jaccard desc, hist_id asc) best-match — in one DuckDB query."""
    import tempfile

    from kafka_connector_s3_sink_spark.operators import incremental

    # caches of the PREVIOUS call are safe to drop once a new call starts
    # (the prior result was materialized by then); keeps bench loops flat
    release_caches()

    docs = _docs(spark, sf_dir)
    if sf_dir not in _INCR_INDEX_CACHE:
        loc = tempfile.mkdtemp(prefix="gate_incr_idx_")
        # 16 buckets: index-side scan/join parallelism at bench SF — at 4,
        # every bucket-key join ran 4-wide on 32 cores (and showed unstable
        # repeat timings); size buckets to the executor count you'll probe with
        incremental.build_dedup_index(
            docs, "gate_incr", loc, num_buckets=16, database="gate_dedup"
        )
        _INCR_INDEX_CACHE[sf_dir] = loc
    did = F.col("doc_id")
    batch = (
        docs.filter(did % 10 == 3)
        .select((did + 500_000).alias("doc_id"), "text")
        .unionByName(
            docs.filter(did % 10 == 6).select(
                (did + 600_000).alias("doc_id"),
                F.regexp_replace("text", r"\s+\S+\s*$", "").alias("text"),
            )
        )
        .unionByName(
            docs.filter(did % 10 == 9).select(
                (did + 700_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.md5(F.concat(did.cast("string"), F.lit(f":{i}")))
                        for i in range(5)
                    ],
                ).alias("text"),
            )
        )
    )
    return incremental.incremental_dedup(
        batch,
        "gate_incr",
        jaccard_threshold=0.8,
        database="gate_dedup",
        unpersist_registry=_INCR_CACHE_REGISTRY,
    )


def q_sink_schema_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 schema-change rotation: one row per output file after splitting
    each (topic, partition) at every value-schema change. Schema variety is
    synthesized deterministically (alternating 50-offset blocks gain an
    'extra' JSON key), mirroring the reference's schema-evolution fixture
    (AvroParquetIntegrationTest.java:288-335). Runs and names come from the
    sink's rule (``prepare_with_filenames`` under parquet rotation)."""
    recs = kafka_records_from_events(spark, sf_dir)
    varied = recs.withColumn(
        "value",
        F.when(
            (F.expr("offset DIV 50") % 2) == 1,
            F.regexp_replace(F.col("value"), r"\}$", ',"extra":1}'),
        ).otherwise(F.col("value")),
    )
    cfg = EngineConfig(format_type=FormatType.PARQUET, parquet_schema_rotation=True)
    return (
        _object_rows(
            prepare_with_filenames(varied, cfg),
            "topic",
            "partition",
            F.col("_schema_run").alias("schema_run"),
            F.col("_schema_fp").alias("schema_fp"),
            "_file",
        )
        .drop("_file")
        .orderBy("topic", "partition", "schema_run")
    )


def q_sink_json_converter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 converter surface: JsonConverter equivalent — parse the value
    payload into a typed struct (`from_json`) and aggregate over the extracted
    field. Malformed payloads → NULL (PERMISSIVE), matching Connect's lenient
    JSON deserialization."""
    recs = kafka_records_from_events(spark, sf_dir)
    parsed = recs.select(
        "topic", "offset", F.from_json(F.col("value"), "k INT").alias("v")
    )
    return (
        parsed.groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.col("v.k")).alias("sum_k"),
            F.min(F.col("v.k")).alias("min_k"),
            F.max(F.col("v.k")).alias("max_k"),
        )
        .orderBy("topic")
    )


AVRO_EVENT_SCHEMA_V1 = """{
    "type": "record", "name": "event",
    "fields": [
        {"name": "user", "type": "long"},
        {"name": "etype", "type": "string"}
    ]
}"""

AVRO_EVENT_SCHEMA_V2 = """{
    "type": "record", "name": "event",
    "fields": [
        {"name": "user", "type": "long"},
        {"name": "etype", "type": "string"},
        {"name": "k", "type": ["null", "int"]}
    ]
}"""

# r6: the CDC-shaped logical-type surface (decimal/timestamp/date/uuid) as a
# third writer schema resolved by the SAME id-dispatch decode pass — the
# evolution merge nulls these fields on v1/v2 rows and vice versa
AVRO_EVENT_SCHEMA_V3 = """{
    "type": "record", "name": "event",
    "fields": [
        {"name": "amount", "type": {"type": "bytes", "logicalType": "decimal",
                                    "precision": 10, "scale": 2}},
        {"name": "created_at", "type": {"type": "long",
                                        "logicalType": "timestamp-micros"}},
        {"name": "birth_date", "type": {"type": "int", "logicalType": "date"}},
        {"name": "txn_id", "type": {"type": "string", "logicalType": "uuid"}}
    ]
}"""


def q_sink_avro_converter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 converter surface: AvroConverter equivalent (pure-Python codec,
    formats/avro.py — no avro jar/package in this container) WITH per-record
    schema-id resolution: odd event_ids are written with schema v1
    (user, etype; id=1), even with the evolved v2 (+ nullable k; id=2), and
    ONE decode pass resolves each payload's Confluent id against the
    id→schema map — the offline equivalent of the reference's Schema Registry
    lookup (AvroIntegrationTest.java:135-137, SchemaRegistryContainer.java).
    All partition-local (mapInPandas encodes + JVM from_json decode); the
    oracle recomputes the same fields and the expected NULL/k split straight
    from events, so any codec or id-dispatch asymmetry hash-mismatches."""
    from kafka_connector_s3_sink_spark.records import read_events

    ev = read_events(spark, sf_dir)
    k_field = F.from_json(F.col("props"), "k INT").getField("k")
    v1_src = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        F.struct(
            F.col("user_id").alias("user"),
            F.col("event_type").alias("etype"),
        ).alias("payload"),
    )
    v2_src = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        F.struct(
            F.col("user_id").alias("user"),
            F.col("event_type").alias("etype"),
            k_field.alias("k"),
        ).alias("payload"),
    )
    # r6: every third event ALSO ships as a v3 payload exercising the
    # logical types CDC streams lean on — decimal, timestamp-micros, date,
    # uuid — typed round-trip proven by the oracle recomputing the expected
    # values (epoch micros, day counts, decimal-as-double, md5-derived uuid)
    # straight from events
    eid = F.col("event_id")
    h = F.md5(eid.cast("string"))
    uuid_str = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    v3_src = ev.filter(eid % 3 == 0).select(
        "event_id",
        F.struct(
            (eid % 10000).cast("decimal(10,2)").alias("amount"),
            (eid * 1000000).alias("created_at"),  # raw micros since epoch
            (eid % 20000).cast("int").alias("birth_date"),  # raw days
            uuid_str.alias("txn_id"),
        ).alias("payload"),
    )
    encoded = avro.encode_avro_column(
        v1_src, "payload", AVRO_EVENT_SCHEMA_V1, output_column="value",
        confluent_schema_id=1,
    ).unionByName(
        avro.encode_avro_column(
            v2_src, "payload", AVRO_EVENT_SCHEMA_V2, output_column="value",
            confluent_schema_id=2,
        )
    ).unionByName(
        avro.encode_avro_column(
            v3_src, "payload", AVRO_EVENT_SCHEMA_V3, output_column="value",
            confluent_schema_id=3,
        )
    )
    decoded = avro.decode_avro_column(
        encoded,
        "value",
        {
            1: AVRO_EVENT_SCHEMA_V1,
            2: AVRO_EVENT_SCHEMA_V2,
            3: AVRO_EVENT_SCHEMA_V3,
        },
        "decoded",
        confluent_framing=True,
        schema_id_column="schema_id",
    )
    return decoded.select(
        "event_id",
        F.col("decoded.user").alias("user_id"),
        F.col("decoded.etype").alias("event_type"),
        F.col("decoded.k").alias("k"),
        "schema_id",
        F.col("decoded.amount").cast("double").alias("amount_dbl"),
        F.unix_micros(F.col("decoded.created_at")).alias("created_us"),
        F.datediff(F.col("decoded.birth_date"), F.lit("1970-01-01")).alias(
            "birth_days"
        ),
        F.col("decoded.txn_id").alias("txn_uuid"),
    )


def _q_topk_users_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-path variant of topk_users: salted two-phase aggregation (each hot
    user splits across 16 reducers, partials merge in a second 1-row-per-salt
    shuffle). Oracle is the SAME SQL as topk_users — salting must be invisible
    in the result."""
    from kafka_connector_s3_sink_spark.operators import skew
    from kafka_connector_s3_sink_spark.functions.numeric import stable_round
    from kafka_connector_s3_sink_spark.records import read_events

    ev = read_events(spark, sf_dir).select("user_id", "value")
    agged = skew.salted_two_phase_agg(
        ev,
        keys=["user_id"],
        partial_aggs=[
            F.sum("value").alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        ],
        final_aggs=[
            stable_round(F.sum("_s"), 2).alias("total_value"),
            F.sum("_n").alias("n_events"),
        ],
    )
    return agged.orderBy(F.col("total_value").desc(), F.col("user_id").asc()).limit(20)


def _q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k aggregation, plain AND salted paths in one result. `method` tags
    which plan produced each row; the two branches must be value-identical
    (salting is a physical rewrite, not a semantic one), so the oracle is the
    same SQL for both tags — a divergence between the branches hash-fails."""
    plain = relational.top_users_by_value(spark, sf_dir).withColumn(
        "method", F.lit("plain")
    )
    salted = _q_topk_users_salted(spark, sf_dir).withColumn("method", F.lit("salted"))
    return plain.unionByName(salted)


def _q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization, both formulations in one result: the gaps-and-islands
    windows plan (`method='islands'`: lag + running sum, new session when gap
    > 30 min, session_end = last event) and Spark's built-in
    ``F.session_window`` (`method='native'`: new session when gap >= 30 min,
    session_end = last event + gap — the Structured-Streaming-ready shape).
    The two branches share one scan; each oracle branch mirrors its exact gap
    comparison and end-bound semantics."""
    ev = relational._t(spark, sf_dir, "events")
    islands = sessions.sessionize_batch(ev).select(
        F.lit("islands").alias("method"),
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        "session_value",
    )
    native = sessions.session_window_stats(ev).select(
        F.lit("native").alias("method"),
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        "session_value",
    )
    return islands.unionByName(native)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval, three paths on the shared (method, query_id, nbr_id,
    score, rank) grain (bm25 merged r7):

    - ``brute``: exact cosine ANN (score = cosine);
    - ``lsh``: bucketed approximate ANN — NOT value-identical to brute by
      design, so its oracle mirrors its own plan;
    - ``bm25``: LEXICAL retrieval (operators/search.bm25_topk) over the
      documents corpus — queries are the first 4 tokens of docs 0-2, so
      each query must rank its own source document; the oracle re-runs the
      identical tokenize → tf/df → Okapi scoring chain in SQL.
    - ``pq`` (r7): product-quantization retrieval WITH exact refinement —
      unit-normalize, fit m=8×k=16 codebooks on the seeded sample, encode
      the corpus to 8 codes/vector, ADC-rank everything, rescore the top-50
      candidates with exact cosine (the production ANN shape; the oracle
      replays fit → encode → LUT → ADC → rescore end-to-end in SQL)."""
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = (
        corpus.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    brute = similarity.brute_force_topk(corpus, qs).select(
        F.lit("brute").alias("method"),
        "query_id",
        "nbr_id",
        F.col("cosine").alias("score"),
        "rank",
    )
    lsh = similarity.lsh_topk(corpus, qs).select(
        F.lit("lsh").alias("method"),
        "query_id",
        "nbr_id",
        F.col("cosine").alias("score"),
        "rank",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(search.tokens(F.col("text")), 1, 4)).alias(
            "query_text"
        ),
    )
    bm = search.bm25_topk(docs, queries, k=10).select(
        F.lit("bm25").alias("method"), "query_id", "nbr_id", "score", "rank"
    )
    nrm = similarity.normalize_vectors(corpus.select("vec_id", "embedding"))
    books = _pq_books(sf_dir, nrm)
    enc = similarity.pq_encode(nrm, books)
    qsn = nrm.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pqr = similarity.pq_topk_rescored(
        enc, books, nrm, qsn, k=10, k_candidates=50
    ).select(F.lit("pq").alias("method"), "query_id", "nbr_id", "score", "rank")
    return brute.unionByName(lsh).unionByName(bm).unionByName(pqr)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at two grains on one (branch, content_hash, keep_id,
    n_dups) ledger:

    - ``doc``: the document-level class ledger over the planted-duplicate
      corpus (unchanged since r1);
    - ``para`` (r7): CCNet/C4-style PARAGRAPH-level dedup — every doc gets
      a shared boilerplate line (and every 3rd a shared footer), and
      ``dedup.paragraph_dedup_stats`` must assign each distinct normalized
      paragraph its first (doc_id, para_idx) owner and occurrence count;
      the oracle replays the split/normalize/first-occurrence window in
      SQL."""
    doc_rows = dedup.exact_dedup(
        dedup.with_exact_duplicates(_docs(spark, sf_dir))
    ).select(
        F.lit("doc").alias("branch"), "content_hash", "keep_id", "n_dups"
    )
    paradocs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nSubscribe to our newsletter today"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("\nAll rights reserved")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    para_rows = dedup.paragraph_dedup_stats(paradocs).select(
        F.lit("para").alias("branch"),
        F.col("para_hash").alias("content_hash"),
        "keep_id",
        "n_dups",
    )
    # span (r7): exact-substring grain (Lee et al.) over the SAME planted
    # corpus — merged token intervals covered by a 4-gram repeating
    # corpus-wide. content_hash = 'start:end' positions, keep_id = owning
    # doc, n_dups = gram hits merged into the span; the oracle replays
    # rolling-md5 grams → repeated-hash filter → gaps-and-islands in SQL,
    # so a one-token off-by-one in gram slicing or island merging
    # hash-mismatches.
    span_rows = dedup.duplicate_spans(paradocs, span_tokens=4).select(
        F.lit("span").alias("branch"),
        F.concat(
            F.col("span_start").cast("string"),
            F.lit(":"),
            F.col("span_end").cast("string"),
        ).alias("content_hash"),
        F.col("doc_id").alias("keep_id"),
        F.col("n_grams").alias("n_dups"),
    )
    return doc_rows.unionByName(para_rows).unionByName(span_rows)


def _q_dedup_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate generation on the shared (method, id1, id2, score)
    pair grain — three branches (merged r5):

    - ``jaccard``: exact n-gram Jaccard pairs, score = similarity;
    - ``lsh``: MinHash-LSH candidates (verify half lives in dedup_clusters),
      score NULL;
    - ``decontam``: benchmark decontamination
      (``dedup.decontamination_matches``) — id1 = training doc, id2 = eval
      doc, score = n-gram overlap ratio against the eval doc. Fixture: the
      benchmark is tail-trimmed copies of every 20th document (true leaks,
      ratio 1.0) plus synthetic md5-token decoys (must match nothing).
    - ``decontam_near`` (r8): NEAR-dup decontamination
      (``dedup.near_decontamination_matches``) — MinHash-banded candidates
      verified by SYMMETRIC n-gram Jaccard, catching paraphrased leaks the
      exact containment pass under-flags. Fixture: every 20th ≡ 9 document
      with the first word replaced AND the last word dropped (a paraphrase —
      head/tail shingles destroyed, body intact) plus md5-token decoys on
      ≡ 19; score = symmetric jaccard.
    """
    jac = dedup.ngram_jaccard_dupes(
        _corpus(spark, sf_dir), threshold=0.7, max_df_ratio=0.2
    ).select(F.lit("jaccard").alias("method"), "id1", "id2", "jaccard")
    lsh = dedup.minhash_lsh_pairs(_corpus(spark, sf_dir)).select(
        F.lit("lsh").alias("method"),
        "id1",
        "id2",
        F.lit(None).cast("double").alias("jaccard"),
    )
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    bench = (
        docs.filter(did % 20 == 4)
        .select(
            (did + 900_000).alias("doc_id"),
            F.regexp_replace("text", r"\s+\S+\s*$", "").alias("text"),
        )
        .unionByName(
            docs.filter(did % 20 == 14).select(
                (did + 950_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.md5(F.concat(did.cast("string"), F.lit(f":{i}")))
                        for i in range(5)
                    ],
                ).alias("text"),
            )
        )
    )
    decon = dedup.decontamination_matches(docs, bench, min_overlap_ratio=0.5).select(
        F.lit("decontam").alias("method"),
        F.col("corpus_id").alias("id1"),
        F.col("bench_id").alias("id2"),
        F.col("overlap_ratio").alias("jaccard"),
    )
    near_bench = (
        docs.filter(did % 20 == 9)
        .select(
            (did + 970_000).alias("doc_id"),
            F.regexp_replace(
                F.regexp_replace("text", r"\s+\S+\s*$", ""),
                r"^\s*\S+",
                "paraphrased",
            ).alias("text"),
        )
        .unionByName(
            docs.filter(did % 20 == 19).select(
                (did + 980_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.md5(F.concat(did.cast("string"), F.lit(f";{i}")))
                        for i in range(5)
                    ],
                ).alias("text"),
            )
        )
    )
    near = dedup.near_decontamination_matches(
        docs, near_bench, jaccard_threshold=0.5
    ).select(
        F.lit("decontam_near").alias("method"),
        F.col("corpus_id").alias("id1"),
        F.col("bench_id").alias("id2"),
        "jaccard",
    )
    return jac.unionByName(lsh).unionByName(decon).unionByName(near)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters on the (branch, doc_id, cluster_id,
    is_canonical) grain — two modalities (merged r7):

    - ``text``: the full cascade (exact pass → LSH candidates → Jaccard
      verify → connected components) over a corpus planted with BOTH exact
      (+100k) and tail-trimmed near (+200k) copies so every stage does real
      work;
    - ``media``: perceptual media dedup (``multimodal.dedup_media_hashes``,
      the clustering half of ``media_dedup``) over a synthetic fingerprint
      plant: phash = (doc_id % 37) * 2654435761 XOR a 2-bit perturbation
      (bits {0,1} for doc_id%5==0, bits {5,6} for doc_id%7==0). Cross-group
      hamming is ≥ 11-4 = 7 > the radius 6, within-group perturbed pairs sit
      at hamming 2–4, so the pigeonhole block join must find REAL non-zero
      hamming matches, same-media-type only (doc_id mod 3 → image / audio /
      video, r8). The oracle replays the radius join + recursive closure in
      SQL — the payload→fingerprint kernels (image_dhash /
      audio_fingerprint / video_fingerprint) are pinned by round-trip
      pytests instead (tests/test_llm_ops.py), since a BMP dHash is not
      SQL-expressible.

    The two branches are independent and both run EAGER driver-side work
    (each connected-components fixpoint is a sequence of small checkpoint
    jobs that never fills the cluster), so they are constructed on two
    driver threads (guide §2.6 — overlap independent jobs): the media CC's
    tiny jobs back-fill executors the text cascade's stragglers leave
    idle. Results are order-independent — each branch is deterministic and
    they only meet at the final union."""

    def _text_rows() -> DataFrame:
        return dedup.dedup_cascade(
            dedup.with_near_duplicates(
                dedup.with_exact_duplicates(_docs(spark, sf_dir)),
                id_offset=200_000,
            ),
            jaccard_threshold=0.8,
        ).select(
            F.lit("text").alias("branch"), "doc_id", "cluster_id", "is_canonical"
        )

    def _media_rows() -> DataFrame:
        did = F.col("doc_id")
        hashes = _docs(spark, sf_dir).select(
            did.alias("media_id"),
            F.when(did % 3 == 0, F.lit("image"))
            .when(did % 3 == 1, F.lit("audio"))
            .otherwise(F.lit("video"))
            .alias("media_type"),
            ((did % 37) * F.lit(2654435761))
            .cast("long")
            .bitwiseXOR(
                F.when(did % 5 == 0, F.lit(3))
                .when(did % 7 == 0, F.lit(96))
                .otherwise(F.lit(0))
                .cast("long")
            )
            .alias("phash"),
        )
        return multimodal.dedup_media_hashes(hashes, max_hamming=6).select(
            F.lit("media").alias("branch"),
            F.col("media_id").alias("doc_id"),
            "cluster_id",
            "is_canonical",
        )

    _res = _overlap(spark, text_cc=_text_rows, media_cc=_media_rows)
    return _res["text_cc"].unionByName(_res["media_cc"])


def _q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs on the (method, id1, id2, cosine) grain —
    two blocking strategies over the same scaled-copy fixture (merged r7):

    - ``label``: caller-supplied block column (the dataset's label) —
      ``dedup.embedding_cosine_dupes``, the path when a natural blocking
      key exists;
    - ``kmeans``: SemDeDup-style LEARNED blocking — ``dedup.semantic_dupes``
      fits the deterministic k-means quantizer on the corpus and compares
      same-cell pairs only. Cosine is scale-invariant, so every scaled copy
      lands in its original's cell and must be found; the oracle re-runs the
      full fit (seeded-hash sample → lowest-id seeds → one rounded-cosine
      Lloyd step → argmax assignment) in SQL, so a divergence anywhere in
      the clustering hash-fails."""
    corpus = _scaled_embeddings(spark, sf_dir)
    # r16: dim=64 switches the per-pair dot to the pre-flattened codegen'd
    # scalar sum (bit-exact, measured 1.7×); the kmeans blocker is
    # session-memoized like every other index fit (r7b contract) instead of
    # re-running its sample/Lloyd collect jobs per construction.
    lab = dedup.embedding_cosine_dupes(corpus, threshold=0.999, dim=64).select(
        F.lit("label").alias("method"), "id1", "id2", "cosine"
    )
    sem = dedup.semantic_dupes(
        corpus, threshold=0.999, centroids=_sem_cents(corpus, sf_dir), dim=64
    ).select(
        F.lit("kmeans").alias("method"), "id1", "id2", "cosine"
    )
    # decontam branch (r8): SEMANTIC benchmark decontamination — the corpus
    # (incl. its scaled copies) screened against an eval-proxy benchmark
    # (every 17th original vector) via banded random-hyperplane LSH
    # candidates + exact cosine verify. The oracle inlines the identical
    # md5-derived planes per band and replays signature → band OR-join →
    # cosine threshold, so a divergence in plane math, banding, or the
    # verify hash-fails. Deterministic hits: the 30 identity pairs (the
    # benchmark vectors themselves are in the corpus) + the scaled copies
    # of benchmark members (vec_id % 340 == 0, cosine exactly 1).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 17 == 0)
    dec = dedup.semantic_decontamination_matches(
        corpus, bench, cosine_threshold=0.999
    ).select(
        F.lit("decontam").alias("method"),
        F.col("corpus_id").alias("id1"),
        F.col("bench_id").alias("id2"),
        "cosine",
    )
    return lab.unionByName(sem).unionByName(dec)


def _q_text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text analytics, top-ngrams AND quality-filter rollup in one
    result (merged r5): (branch, key, n, metric_a, metric_b) — ngram rows
    carry document frequency, quality rows the per-language survivor stats."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ngrams = text_ops.top_ngrams(docs).select(
        F.lit("top_ngrams").alias("branch"),
        F.col("ngram").alias("key"),
        F.col("doc_freq").cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("metric_a"),
        F.lit(None).cast("double").alias("metric_b"),
    )
    quality = text_ops.quality_filter_stats(docs).select(
        F.lit("quality_filter").alias("branch"),
        F.col("lang_pred").alias("key"),
        F.col("n_docs").cast("bigint").alias("n"),
        F.col("avg_quality").alias("metric_a"),
        F.col("avg_stopword_ratio").alias("metric_b"),
    )
    # html_extract branch (r5): every doc wrapped in synthetic crawl HTML
    # (head/style/script boilerplate, a comment, entity-laden fragment) and
    # stripped back with text_ops.html_to_text. n = extracted length;
    # metric_a = 1.0 iff extraction equals collapsed(text) + decoded fragment
    # — the oracle runs the identical RE2-safe regex chain in DuckDB, so any
    # tag/entity/whitespace divergence hash-mismatches.
    html = F.concat(
        F.lit(
            '<html><head><title>doc</title><style type="text/css">p { color:'
            " red; }</style></head><body><!-- boilerplate --><script>var x ="
            ' "<p>not text</p>";</script><p>'
        ),
        F.col("text"),
        F.lit(
            "</p><div>&amp;joined &lt;b&gt; &quot;q&quot; &#39;s&#39;"
            " one&nbsp;two</div></body></html>"
        ),
    )
    extracted = text_ops.html_to_text(html)
    collapsed = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    expected = F.concat(collapsed, F.lit(" &joined <b> \"q\" 's' one two"))
    html_rows = docs.select(
        F.lit("html_extract").alias("branch"),
        F.col("doc_id").cast("string").alias("key"),
        F.length(extracted).cast("bigint").alias("n"),
        F.when(extracted == expected, 1.0).otherwise(0.0).alias("metric_a"),
        F.lit(None).cast("double").alias("metric_b"),
    )
    # url_domains branch (r5): synthetic crawl URLs (host diversity from
    # doc_id, ccTLD + tracking-param + fragment + userinfo cases) rolled up
    # per registrable domain by operators/urls.domain_stats — DuckDB runs the
    # identical regex chain, so host/domain/canonicalization divergence
    # hash-mismatches. Every 11th doc gets a relative (unparseable) URL that
    # must roll up under the null domain, not vanish.
    from kafka_connector_s3_sink_spark.operators import urls as url_ops

    did = F.col("doc_id")
    url = F.when(
        did % 11 == 0, F.concat(F.lit("/relative/path/"), did.cast("string"))
    ).otherwise(
        F.concat(
            F.lit("https://"),
            F.when(did % 3 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
            F.when(did % 2 == 0, F.lit("www.")).otherwise(F.lit("sub.")),
            F.lit("site"), (did % 7).cast("string"),
            F.when(did % 4 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
            F.lit("/p/"), (did % 13).cast("string"),
            F.lit("?utm_source=feed&id="), (did % 5).cast("string"),
            F.lit("&utm_campaign=x#frag"),
        )
    )
    url_rows = url_ops.domain_stats(docs.select(url.alias("url"))).select(
        F.lit("url_domains").alias("branch"),
        F.col("domain").alias("key"),
        F.col("n_pages").cast("bigint").alias("n"),
        F.col("n_hosts").cast("double").alias("metric_a"),
        F.col("n_canonical").cast("double").alias("metric_b"),
    )
    # domain_cap branch (r7): C4-style corpus balancing over the SAME
    # synthetic URLs — keep ≤50 docs per registrable domain. The Spark side
    # runs the SALTED two-phase top-K (the hot-domain scale path,
    # n_salts=8); the oracle is the plain one-window row_number over the
    # identical md5 keep order, so the gate proves the two-phase keep set
    # equals the global-order semantics. n = kept docs, metric_a = sum of
    # kept doc_ids (exact keep-SET membership, order-independent),
    # metric_b = pre-cap domain size. Null domains are a capped group.
    dom = docs.select("doc_id", url_ops.registrable_domain(url).alias("domain"))
    cap_kept = (
        sampling.cap_per_domain(dom, "domain", 50, n_salts=8)
        .filter("kept")
        .select("doc_id", F.lit(1).alias("_k"))
    )
    cap_rows = (
        dom.join(cap_kept, "doc_id", "left")
        .groupBy("domain")
        .agg(
            F.count("_k").alias("n"),
            F.sum(F.when(F.col("_k") == 1, F.col("doc_id")))
            .cast("double")
            .alias("metric_a"),
            F.count(F.lit(1)).cast("double").alias("metric_b"),
        )
        .select(
            F.lit("domain_cap").alias("branch"),
            F.col("domain").alias("key"),
            "n",
            "metric_a",
            "metric_b",
        )
    )
    # warc_ingest branch (r6): the documents corpus is exported as REAL
    # per-member-gzip WARC archives (distributed write_warc, one archive per
    # partition, HTTP-response framing around the SAME synthetic html as
    # html_extract) and re-ingested with read_warc → warc_documents. n =
    # extracted-text length over the round-tripped payload, metric_a = body
    # byte length, metric_b = parsed HTTP status — the oracle recomputes all
    # three from `documents` directly, so ANY byte lost or duplicated in
    # WARC framing, gzip member splitting, HTTP head parsing, or the
    # archive/task fan-out hash-mismatches. Archives are built once per
    # process per sf_dir (the READ runs every call) and reaped at exit.
    from kafka_connector_s3_sink_spark.sources import warc as warc_mod

    warc_dir = _WARC_FIXTURE_CACHE.get(sf_dir)
    if warc_dir is None:
        import tempfile

        warc_dir = tempfile.mkdtemp(prefix="gate_warc_")
        warc_mod.write_warc(
            docs.select(
                F.concat(
                    F.lit("https://site"), (did % 7).cast("string"),
                    F.lit(".com/doc/"), did.cast("string"),
                ).alias("target_uri"),
                F.encode(html, "UTF-8").alias("payload"),
            ).repartition(8),
            warc_dir,
            warcinfo="software: spark-graft gate\r\n",
        )
        _WARC_FIXTURE_CACHE[sf_dir] = warc_dir
    wdocs = warc_mod.warc_documents(warc_mod.read_warc(spark, warc_dir))
    warc_rows = wdocs.select(
        F.lit("warc_ingest").alias("branch"),
        F.regexp_extract("url", r"/doc/(\d+)$", 1).alias("key"),
        F.length("text").cast("bigint").alias("n"),
        F.col("n_bytes").cast("double").alias("metric_a"),
        F.col("http_status").cast("double").alias("metric_b"),
    )
    # quality_clf branch (r6): every doc scored by the TRAINED hash-featured
    # logistic model (operators/quality.PINNED_WEIGHTS_V1 — refitting the
    # pinned corpus reproduces it bit-for-bit, pytest-pinned). The oracle
    # rebuilds the full chain in DuckDB: portable md5-prefix token hashing →
    # bucket frequencies + dense signals → dot → sigmoid, weights inlined
    # from the same constant — a learned model inside the correctness gate.
    from kafka_connector_s3_sink_spark.functions.numeric import stable_round
    from kafka_connector_s3_sink_spark.operators.quality import (
        PINNED_WEIGHTS_V1,
        classifier_score_rows,
    )

    # r15 optimization: frame-level scoring (classifier_score_rows) — the
    # hashed-token array is materialized once per row behind a Generate
    # barrier instead of being re-derived by each of the 16 bucket filters
    # (measured 7×, bit-identical; see the function's docstring), and the
    # score attribute feeds both metric columns so the sigmoid tree
    # appears once in the plan (lambda subtrees are excluded from codegen
    # subexpression elimination — a second textual instance is a second
    # per-row evaluation).
    clf_rows = classifier_score_rows(
        docs.select("doc_id", "text"), PINNED_WEIGHTS_V1, out_col="_clf_s"
    ).select(
        F.lit("quality_clf").alias("branch"),
        F.col("doc_id").cast("string").alias("key"),
        text_ops.token_count(F.col("text")).cast("bigint").alias("n"),
        stable_round(F.col("_clf_s"), 4).alias("metric_a"),
        F.when(F.col("_clf_s") >= 0.5, 1.0).otherwise(0.0).alias("metric_b"),
    )
    # link_rank branch (r7): synthetic crawl pages exercise every href
    # resolution shape (absolute — only for doc_id%3≠0, protocol-relative,
    # root-relative self-link, path-relative self-link for even ids, plus a
    # mailto: that must drop) → linkgraph.extract_links → host_graph →
    # 5-iteration damped PageRank over the 7 site hosts. key = host,
    # n = out-link weight, metric_a = rank (rounded at 1e-6). The oracle
    # re-runs the ENTIRE chain in SQL — identical href regexes (module
    # constants), the same resolution CASE ladder, and an unrolled
    # power-iteration with the same dangling-mass correction — so a
    # divergence in extraction, resolution, weighting, or any iteration
    # hash-fails.
    from kafka_connector_s3_sink_spark.operators import linkgraph

    page_url = F.concat(
        F.lit("https://site"), (did % 7).cast("string"),
        F.lit(".com/dir/page"), did.cast("string"), F.lit(".html"),
    )
    link_html = F.concat(
        F.when(
            did % 3 != 0,
            F.concat(
                F.lit('<a href="https://site'),
                ((did * 3 + 1) % 7).cast("string"),
                F.lit('.com/x">a</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit('<a href="//site'), ((did + 2) % 7).cast("string"),
        F.lit('.com/y">b</a>'),
        F.lit('<a href="/local/z">c</a>'),
        F.when(did % 2 == 0, F.lit('<a href="sub/page.html">d</a>')).otherwise(
            F.lit("")
        ),
        F.lit('<a href="mailto:x@y">e</a>'),
    )
    pages = docs.select(page_url.alias("url"), link_html.alias("html"))
    hg = linkgraph.host_graph(linkgraph.extract_links(pages))
    pr = linkgraph.pagerank(hg, iterations=5)
    outdeg = hg.groupBy("src_host").agg(F.sum("n_links").alias("out_links"))
    link_rows = pr.join(outdeg, pr.node == outdeg.src_host, "left").select(
        F.lit("link_rank").alias("branch"),
        F.col("node").alias("key"),
        F.coalesce(F.col("out_links"), F.lit(0)).cast("bigint").alias("n"),
        stable_round(F.col("rank"), 6).alias("metric_a"),
        F.lit(None).cast("double").alias("metric_b"),
    )
    # ppl branch (r7, upgraded r8): CCNet-style INTERPOLATED trigram-LM
    # perplexity, self-trained on the corpus (quality.trigram_perplexity,
    # λ = 0.1/0.3/0.6 over add-k unigram/bigram/trigram levels) — the oracle
    # rebuilds the identical three-level model (trigram counts + context
    # rollup, bigram counts + rollup, unigram counts, (V, N) scalars) and
    # the interpolated −ln scoring sum in SQL, so any divergence in
    # tokenization, counting, smoothing, interpolation order, or the exp/ln
    # chain hash-fails.
    from kafka_connector_s3_sink_spark.operators.quality import trigram_perplexity

    ppl_rows = trigram_perplexity(
        docs, unpersist_registry=_INCR_CACHE_REGISTRY
    ).select(
        F.lit("ppl").alias("branch"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_trigrams").cast("bigint").alias("n"),
        stable_round(F.col("ppl"), 4).alias("metric_a"),
        stable_round(F.col("avg_nll"), 6).alias("metric_b"),
    )
    # drift branch (r7): PSI/KL corpus-shift monitoring — the "current"
    # snapshot is a deterministic perturbation of the corpus (every 2nd
    # doc's text doubled, every 5th doc dropped), so the report shows real
    # length/word drift; the oracle replays the identical bucket / Laplace
    # smoothing / ln-sum chain in SQL. key = feature, n = current-snapshot
    # rows, metric_a = PSI, metric_b = KL(current ‖ baseline).
    from kafka_connector_s3_sink_spark.operators import drift as drift_ops

    cur = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    drift_rows = drift_ops.drift_report(
        docs, cur, drift_ops.text_drift_features()
    ).select(
        F.lit("drift").alias("branch"),
        F.col("feature").alias("key"),
        F.col("n_cur").cast("bigint").alias("n"),
        F.col("psi").alias("metric_a"),
        F.col("kl").alias("metric_b"),
    )
    # dsir branch (r8): Data Selection via Importance Resampling (Xie et
    # al. 2023) — hashed-n-gram importance weights of the crawl side
    # (doc_id % 7 != 0) against a curated-proxy target (doc_id % 7 == 0),
    # Gumbel top-40 selection. The oracle replays the ENTIRE chain in SQL —
    # gram explosion, md5 bucket hash, both bag-of-buckets fits, Laplace
    # smoothing, the ln-ratio sum, the md5-derived Gumbel draw, and the
    # top-k cut — so any divergence in feature hashing, smoothing, or the
    # selection boundary hash-fails. n = hashed grams, metric_a =
    # log-weight, metric_b = the Gumbel selection score.
    from kafka_connector_s3_sink_spark.operators import selection as sel_ops

    dsir_rows = sel_ops.dsir_resample(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        k=40,
        n_buckets=1024,
        # deferred release: the gram cache must outlive this lazy return;
        # bench/gate call release_caches() between entries
        unpersist_registry=_INCR_CACHE_REGISTRY,
    ).select(
        F.lit("dsir").alias("branch"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_grams").cast("bigint").alias("n"),
        stable_round(F.col("log_weight"), 6).alias("metric_a"),
        stable_round(F.col("select_score"), 6).alias("metric_b"),
    )
    # wsample branch (r9): deterministic weighted sampling WITHOUT
    # replacement (Efraimidis-Spirakis 2006) — exponential-race keys
    # ln(u)/w over the 52-bit md5 uniform (sampling.hash_unit), weight =
    # char length, top-50 cut. The oracle replays draw + key + cut, so the
    # r9 16->52-bit draw widening is hash-gated end to end.
    w_rows = sampling.weighted_sample(
        docs.withColumn("w", F.length("text").cast("double")),
        k=50,
        weight_col="w",
    ).select(
        F.lit("wsample").alias("branch"),
        F.col("doc_id").cast("string").alias("key"),
        F.length("text").cast("bigint").alias("n"),
        stable_round(F.col("sample_key"), 6).alias("metric_a"),
        F.col("w").alias("metric_b"),
    )
    # pr_curve branch (r9): exact precision/recall/F1 at every distinct
    # quality-score threshold (quality.precision_recall_curve; label =
    # doc_id % 3 == 0 — synthetic but deterministic). key is the threshold
    # scaled to an integer string so float FORMATTING can never diverge
    # between engines; metric_a = precision, metric_b = f1 (which must stay
    # NULL on undefined recall — the r9 contract fix is oracle-gated).
    from kafka_connector_s3_sink_spark.operators import quality as q_ops

    scored = docs.select(
        text_ops.quality_score(F.col("text")).alias("score"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("label"),
    )
    pr_rows = q_ops.precision_recall_curve(scored, round_digits=4).select(
        F.lit("pr_curve").alias("branch"),
        F.floor(F.col("threshold") * 10000 + F.lit(0.5))
        .cast("bigint")
        .cast("string")
        .alias("key"),
        F.col("n_predicted_pos").cast("bigint").alias("n"),
        F.col("precision").alias("metric_a"),
        F.col("f1").alias("metric_b"),
    )
    return (
        ngrams.unionByName(quality)
        .unionByName(html_rows)
        .unionByName(url_rows)
        .unionByName(cap_rows)
        .unionByName(warc_rows)
        .unionByName(clf_rows)
        .unionByName(link_rows)
        .unionByName(ppl_rows)
        .unionByName(drift_rows)
        .unionByName(dsir_rows)
        .unionByName(w_rows)
        .unionByName(pr_rows)
    )


# ---------------------------------------------------------------------------
# queries() / oracle_sql()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries: the driver's oracle gate checks the first 50
    # registered queries in order (round-2 lesson: entries 51+ silently fall
    # out of the check window). Redundant same-grain samplers are merged —
    # every merged branch still executes, tagged by a discriminator column —
    # so the whole SURVEY.md §2 surface stays inside the window.
    return {
        # sink surface (SURVEY.md §2.2-2.5)
        "sink_projection_csv": q_sink_projection_csv,  # string + bytearray converters
        "sink_group_topic_partition": q_sink_group_topic_partition,
        "sink_group_key_upsert": q_sink_group_key_upsert,
        "sink_chunking": q_sink_chunking,
        "sink_timestamp_grouping": q_sink_timestamp_grouping,
        "sink_jsonl_render": q_sink_jsonl_render,  # jsonl + envelope-unwrap branches
        "sink_headers_csv": q_sink_headers_csv,
        "sink_json_converter": q_sink_json_converter,
        "sink_avro_converter": q_sink_avro_converter,
        "sink_schema_rotation": q_sink_schema_rotation,
        # re-exposed relational operators (SURVEY.md §2.3 'absent' list)
        "q1_pricing_summary": relational.pricing_summary,
        "q3_top_revenue_orders": relational.top_revenue_orders,
        "q5_regional_revenue": relational.regional_revenue,
        "q6_forecast_revenue": relational.forecast_revenue,
        "q4_late_shipment_priority": relational.late_shipment_priority,
        "q2_top_supplier_per_nation": relational.top_supplier_per_nation,
        "q10_returned_item_revenue": relational.returned_item_revenue,
        "rollup_revenue": relational.rollup_revenue,
        "cube_order_stats": relational.cube_order_stats,
        "window_running_totals": relational.user_running_totals,  # + lag/lead gaps
        "topk_users": _q_topk_users,  # plain + salted plans
        "setop_customer_activity": relational.customer_activity_setops,  # EXCEPT + INTERSECT
        "array_functions": relational.token_array_functions,
        "semi_join_parts": relational.parts_with_orders_semi,
        # r5: exact COUNT(DISTINCT) folded into value_statistics (same
        # per-event_type grain) — the freed slot holds a TPC-H shape
        "approx_distinct_users": relational.approx_distinct_users,
        "scalar_string_functions": relational.scalar_string_function_sampler,
        "json_functions": relational.json_function_sampler,
        "window_rank_ntile": relational.order_rank_windows,
        "value_statistics": relational.value_statistics,  # + exact countDistinct
        "asof_prev_purchase": relational.asof_prev_purchase,
        "range_join_events_after_signup": relational.events_after_signup,
        # r5: the nine r4 TPC-H shapes join the oracle window, merged onto
        # shared grains (branch tags — every shape still executes)
        "tpch_scalar_aggregates": relational.tpch_scalar_aggregates,  # Q14+Q17+Q19
        "tpch_order_analytics": relational.tpch_order_analytics,  # Q18+Q7+Q8+Q9+Q12+Q15+Q16
        "tpch_quantified_counts": relational.tpch_quantified_counts,  # Q21+Q13+Q20
        "tpch_segment_rollups": relational.tpch_segment_rollups,  # Q22+Q11
        # event-time / sessionization (streaming shapes, run in batch)
        "sessionize_events": _q_sessionize_events,  # islands + native session_window
        "tumbling_window_counts": lambda s, d: sessions.tumbling_window_counts(
            relational._t(s, d, "events")
        ),
        # LLM-pipeline extensions
        "text_analysis": lambda s, d: text_ops.analyze(_pii_docs(s, d)),
        "text_corpus_stats": _q_text_corpus_stats,  # top-ngrams + quality rollup
        "dedup_exact": _q_dedup_exact,  # doc-level + paragraph-level branches
        "dedup_candidate_pairs": _q_dedup_candidate_pairs,  # jaccard + minhash-lsh
        "dedup_simhash": lambda s, d: dedup.simhash_dupes(_corpus(s, d), max_hamming=3),
        # the full text cascade (exact → LSH → Jaccard verify → clusters)
        # + r7 media branch: perceptual-hash blocked hamming clustering
        "dedup_clusters": _q_dedup_clusters,
        "dedup_embedding_cosine": _q_dedup_embedding_cosine,  # label + kmeans blocks
        # r4: the incremental path (classify a batch vs the persisted bucketed
        # index) joins the oracle window — slot freed by merging the two
        # (offset, json_line)-grain sink entries under sink_jsonl_render
        "incremental_dedup": q_incremental_dedup,
        # merged r3.2: nprobe=1 + nprobe=2 probes of one shared index
        # (`nprobe` tag), freeing a window slot for pipeline_pack_split
        "ann_ivf_topk": _q_ann_ivf_both,
        "pipeline_pack_split": q_pipeline_pack_split,
        "ann_topk": _q_ann_topk,  # exact brute-force + LSH-bucketed branches
        "multimodal_features": lambda s, d: multimodal.feature_rows(
            multimodal.extract_features(
                multimodal.media_from_documents(
                    s.read.parquet(f"{d}/documents.parquet")
                ),
                decoder=multimodal.fake_decoder,
            )
        ),
        "multimodal_frame_plan": lambda s, d: multimodal.frame_sample_plan(
            multimodal.media_from_documents(s.read.parquet(f"{d}/documents.parquet")),
            every_n=10,
        ),  # frame fan-out rows carry the typed meta struct (merged _meta query)
    }


_PQ_BOOKS_CACHE: dict[str, list] = {}


def _pq_books(sf_dir: str, nrm: DataFrame) -> list:
    """Session-memoized PQ codebooks for the (read-only) driver tables —
    the same contract as ``_ivf_cents`` below: the codebook is the INDEX
    (a real deployment fits it once offline; every query ships the same
    LUT), and the fit is a pure function of immutable inputs (seeded
    bounded sample, lowest-id seeds, one deterministic Lloyd step), so
    memoization cannot change any result."""
    if sf_dir not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[sf_dir] = similarity.pq_codebooks(nrm, m=8, k=16)
    return _PQ_BOOKS_CACHE[sf_dir]


_SEM_CENT_CACHE: dict[str, list] = {}


def _sem_cents(corpus: DataFrame, sf_dir: str) -> list:
    """Session-memoized SemDeDup blocking quantizer over the scaled-copy
    corpus — same r7b index-fit contract as ``_pq_books``/``_ivf_cents``:
    the k-means blocker is fit once offline in a real deployment, the fit
    is a pure function of immutable inputs (seeded bounded sample,
    lowest-id seeds, one deterministic Lloyd step), so memoization cannot
    change any result. Before r16 the fit's collect jobs re-ran on every
    entry construction."""
    if sf_dir not in _SEM_CENT_CACHE:
        _SEM_CENT_CACHE[sf_dir] = similarity.ivf_centroids(
            corpus, n_centroids=8
        )
    return _SEM_CENT_CACHE[sf_dir]


_IVF_CENT_CACHE: dict[str, list] = {}


def _ivf_cents(spark: SparkSession, sf_dir: str) -> list:
    """Session-memoized IVF quantizer for the (read-only) driver tables. The
    quantizer is the INDEX — a real deployment fits it once offline and every
    probe reuses it; refitting per query would re-run the count+sample+Lloyd
    jobs each call. Pure function of immutable inputs (deterministic sample,
    seeds, and Lloyd), so memoization cannot change any result — the two IVF
    registry entries share one fit, exactly like two probes of one index."""
    if sf_dir not in _IVF_CENT_CACHE:
        _IVF_CENT_CACHE[sf_dir] = similarity.ivf_centroids(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        )
    return _IVF_CENT_CACHE[sf_dir]


def _scaled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings ∪ scaled copies of every 20th vector (cosine 1.0 with the
    original — deterministic near-dups for the cosine-dedup fixture)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dups = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 1.5).alias(
            "embedding"
        ),
        "label",
    )
    return emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label").unionByName(dups)


def _lsh_oracle_sql(n_planes: int = 8, dim: int = 64, k: int = 10) -> str:
    """DuckDB oracle for ann_lsh_topk: the deterministic hyperplanes are
    inlined as literal DOUBLE[] arrays (same md5-derived values as
    similarity._hyperplanes, so both engines bucket identically)."""
    from kafka_connector_s3_sink_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)

    def arr(plane: list[float]) -> str:
        return "[" + ",".join(repr(c) for c in plane) + "]::DOUBLE[]"

    bucket = " || ".join(
        f"(CASE WHEN list_dot_product(vec, {arr(p)}) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        b AS (SELECT vec_id, vec, {bucket} AS bucket FROM c),
        q AS (SELECT vec_id AS query_id, vec AS qvec, bucket FROM b WHERE vec_id < 5),
        scored AS (
            SELECT query_id, b.vec_id AS nbr_id,
                floor((list_dot_product(qvec, b.vec)
                    / (sqrt(list_dot_product(qvec, qvec))
                       * sqrt(list_dot_product(b.vec, b.vec)))) * 10000.0 + 0.5) / 10000.0 AS cosine
            FROM q JOIN b USING (bucket)
            WHERE b.vec_id <> query_id
        ),
        ranked AS (
            SELECT query_id, nbr_id, cosine,
                row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC
                ) AS rank
            FROM scored
        )
        SELECT query_id, nbr_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def _semantic_decontam_oracle_sql(
    n_bands: int = 4,
    band_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.999,
) -> str:
    """DuckDB oracle for the `decontam` branch of dedup_embedding_cosine:
    the banded hyperplane signatures (per-band plane sets inlined as
    literal DOUBLE[] arrays — the same md5-derived values as
    dedup.semantic_decontamination_matches uses via
    similarity._hyperplanes(seed=1000+band)), the OR-of-bands candidate
    join, and the exact rounded-cosine verify at the same threshold."""
    from kafka_connector_s3_sink_spark.operators.similarity import _hyperplanes

    def arr(plane: list[float]) -> str:
        return "[" + ",".join(repr(c) for c in plane) + "]::DOUBLE[]"

    def bucket(seed: int) -> str:
        return " || ".join(
            f"(CASE WHEN list_dot_product(vec, {arr(p)}) >= 0"
            " THEN '1' ELSE '0' END)"
            for p in _hyperplanes(dim, band_planes, seed=seed)
        )

    csig = "\n            UNION ALL\n".join(
        f"""            SELECT corpus_id, {band} AS band,
                {bucket(1000 + band)} AS bucket
            FROM c"""
        for band in range(n_bands)
    )
    bsig = "\n            UNION ALL\n".join(
        f"""            SELECT bench_id, {band} AS band,
                {bucket(1000 + band).replace("vec", "bvec")} AS bucket
            FROM bch"""
        for band in range(n_bands)
    )
    return f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                list_transform(embedding::DOUBLE[], x -> x * 1.5) AS vec
            FROM embeddings WHERE vec_id % 20 = 0
        ),
        c AS (
            SELECT vec_id AS corpus_id, vec FROM corpus
            WHERE list_dot_product(vec, vec) > 0
        ),
        bch AS (
            SELECT vec_id AS bench_id, embedding::DOUBLE[] AS bvec
            FROM embeddings
            WHERE vec_id % 17 = 0 AND
                list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
        ),
        csig AS (
{csig}
        ),
        bsig AS (
{bsig}
        ),
        cand AS (
            SELECT DISTINCT corpus_id, bench_id
            FROM csig JOIN bsig USING (band, bucket)
        ),
        verified AS (
            SELECT cand.corpus_id AS id1, cand.bench_id AS id2,
                floor((list_dot_product(c.vec, bch.bvec)
                    / (sqrt(list_dot_product(c.vec, c.vec))
                       * sqrt(list_dot_product(bch.bvec, bch.bvec))))
                    * 10000.0 + 0.5) / 10000.0 AS cosine
            FROM cand
            JOIN c USING (corpus_id)
            JOIN bch USING (bench_id)
        )
        SELECT id1, id2, cosine FROM verified WHERE cosine >= {threshold}
    """


def _zval_oracle_expr(bits: int = 8) -> str:
    """SQL mirror of relational._zorder_sample_key: the identical clamped
    range buckets (widths computed by the same Python arithmetic and
    repr-embedded) and bit interleave — addition stands in for OR because
    the shifted bits are disjoint."""
    cols = [("o_totalprice", 0.0, 600000.0), ("o_custkey", 0.0, 16384.0)]
    n = 1 << bits
    buckets = []
    for name, lo, hi in cols:
        width = (hi - lo) / n
        buckets.append(
            f"least({n - 1}, greatest(0, CAST(floor((CAST({name} AS DOUBLE)"
            f" - {lo!r}) / {width!r}) AS BIGINT)))"
        )
    terms = []
    for b in range(bits):
        for c, bexpr in enumerate(buckets):
            terms.append(f"((({bexpr} >> {b}) & 1) << {b * len(cols) + c})")
    return "(" + " + ".join(terms) + ")"


def _drift_oracle_sql(n_buckets: int = 10, alpha: float = 0.5) -> str:
    """DuckDB oracle for the `drift` branch of text_corpus_stats: replays
    operators/drift.drift_report over the same perturbed current snapshot —
    identical equal-width clamped buckets (widths computed by the SAME
    Python arithmetic and repr-embedded so the doubles match bit-for-bit),
    Laplace smoothing, and ln-sum PSI/KL. Emitted as a `UNION ALL` tail
    for the entry's f-string."""
    from kafka_connector_s3_sink_spark.operators.drift import (
        TEXT_DRIFT_FEATURE_SPECS,
    )
    sql_expr = {
        "text_chars": "CAST(length(text) AS DOUBLE)",
        "text_words": (
            "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)"
        ),
        "digit_ratio": (
            "length(regexp_replace(text, '[^0-9]', '', 'g'))"
            " / greatest(length(text), 1)"
        ),
    }
    bucket_selects = []
    for name, lo, hi in TEXT_DRIFT_FEATURE_SPECS:
        width = (hi - lo) / n_buckets
        bucket_selects.append(
            f"SELECT side, '{name}' AS feature,"
            f" least({n_buckets - 1}, greatest(0,"
            f" CAST(floor(({sql_expr[name]} - {lo!r})"
            f" / {width!r}) AS INTEGER))) AS bucket FROM both_sides"
        )
    buckets_sql = " UNION ALL ".join(bucket_selects)
    denom = float(alpha * n_buckets)
    return f"""
            UNION ALL
            SELECT 'drift' AS branch, feature AS key,
                CAST(n_cur AS BIGINT) AS n, psi AS metric_a, kl AS metric_b
            FROM (
            WITH cur AS (
                SELECT CASE WHEN doc_id % 2 = 0
                       THEN text || ' ' || text ELSE text END AS text
                FROM documents WHERE doc_id % 5 <> 0
            ),
            both_sides AS (
                SELECT 'base' AS side, text FROM documents
                UNION ALL
                SELECT 'cur' AS side, text FROM cur
            ),
            fb AS ({buckets_sql}),
            counts AS (
                SELECT feature, bucket,
                    sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS c_base,
                    sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS c_cur
                FROM fb GROUP BY feature, bucket
            ),
            totals AS (
                SELECT feature, sum(c_base) AS n_base, sum(c_cur) AS n_cur
                FROM counts GROUP BY feature
            ),
            pq AS (
                SELECT c.feature, t.n_base, t.n_cur,
                    (c.c_base + {alpha!r}) / (t.n_base + {denom!r}) AS q,
                    (c.c_cur + {alpha!r}) / (t.n_cur + {denom!r}) AS p
                FROM counts c JOIN totals t ON t.feature = c.feature
            )
            SELECT feature, n_cur,
                floor(sum((p - q) * ln(p / q)) * 10000.0 + 0.5) / 10000.0 AS psi,
                floor(sum(p * ln(p / q)) * 10000.0 + 0.5) / 10000.0 AS kl
            FROM pq GROUP BY feature, n_base, n_cur
            )
"""


def _dsir_oracle_sql(
    n_buckets: int = 1024, smoothing: float = 1.0, k: int = 40
) -> str:
    """DuckDB oracle for the `dsir` branch of text_corpus_stats: the full
    importance-resampling chain in SQL — lowercased whitespace unigrams +
    bigrams, the md5 bucket hash (first 6 hex chars mod m, the
    sampling.hash_bucket idiom), both Laplace-smoothed bag-of-buckets fits
    (target = doc_id % 7 == 0, raw = the rest), the per-doc ln-ratio sum,
    the md5-derived Gumbel draw (first 13 hex chars, (h+0.5)/2^52 — the
    52-bit continuous draw of sampling.hash_unit), and the Gumbel top-k
    cut with the same (score DESC, doc_id) order. Emitted as a
    `UNION ALL` tail for the entry's f-string."""
    a = float(smoothing)
    m = float(n_buckets)
    return f"""
            UNION ALL
            SELECT 'dsir' AS branch, key, n, metric_a, metric_b FROM (
            WITH tk AS (
                SELECT doc_id,
                    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                    END AS toks
                FROM documents
            ),
            gr AS (
                SELECT doc_id, toks[i] AS gram
                FROM (
                    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
                    FROM tk
                )
                UNION ALL
                SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
                FROM (
                    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                    FROM tk
                )
            ),
            hb AS (
                SELECT doc_id,
                    CAST('0x' || substr(md5('dsir:' || gram), 1, 6) AS BIGINT)
                        % {n_buckets} AS bucket
                FROM gr
            ),
            p AS (
                SELECT bucket, count(*) AS cp FROM hb
                WHERE doc_id % 7 = 0 GROUP BY 1
            ),
            q AS (
                SELECT bucket, count(*) AS cq FROM hb
                WHERE doc_id % 7 <> 0 GROUP BY 1
            ),
            tot AS (
                SELECT (SELECT CAST(sum(cp) AS DOUBLE) FROM p) AS tp,
                       (SELECT CAST(sum(cq) AS DOUBLE) FROM q) AS tq
            ),
            w AS (
                SELECT h.doc_id, count(*) AS ng,
                    sum(ln((coalesce(cp, 0) + {a}) / (tp + {a} * {m}))
                      - ln((coalesce(cq, 0) + {a}) / (tq + {a} * {m}))) AS lw
                FROM hb h
                LEFT JOIN p USING (bucket) LEFT JOIN q USING (bucket)
                CROSS JOIN tot
                WHERE h.doc_id % 7 <> 0
                GROUP BY 1
            ),
            sc AS (
                SELECT doc_id, ng, lw,
                    lw - ln(-ln((CAST('0x' || substr(
                        md5('dsir-gumbel:' || CAST(doc_id AS VARCHAR)), 1, 13
                    ) AS BIGINT) + 0.5) / 4503599627370496.0)) AS score
                FROM w
            )
            SELECT CAST(doc_id AS VARCHAR) AS key, CAST(ng AS BIGINT) AS n,
                floor(lw * 1000000.0 + 0.5) / 1000000.0 AS metric_a,
                floor(score * 1000000.0 + 0.5) / 1000000.0 AS metric_b
            FROM sc
            ORDER BY score DESC, doc_id
            LIMIT {k}
            )
"""


def _wsample_oracle_sql(k: int = 50) -> str:
    """DuckDB oracle for the `wsample` branch of text_corpus_stats: the full
    Efraimidis-Spirakis chain — the 52-bit md5 uniform (13 hex chars,
    (h+0.5)/2^52 — sampling.hash_unit), the log-space race key ln(u)/w with
    w = char length, the (key DESC, doc_id) order, and the top-k cut.
    Emitted as a `UNION ALL` tail for the entry's f-string."""
    return f"""
            UNION ALL
            SELECT 'wsample' AS branch, CAST(doc_id AS VARCHAR) AS key,
                CAST(length(text) AS BIGINT) AS n,
                floor(race_key * 1000000.0 + 0.5) / 1000000.0 AS metric_a,
                CAST(length(text) AS DOUBLE) AS metric_b
            FROM (
                SELECT doc_id, text,
                    ln((CAST('0x' || substr(
                        md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 13
                    ) AS BIGINT) + 0.5) / 4503599627370496.0)
                      / CAST(length(text) AS DOUBLE) AS race_key
                FROM documents
                WHERE CAST(length(text) AS DOUBLE) > 0
                ORDER BY race_key DESC, doc_id
                LIMIT {k}
            )
"""


def _pr_curve_oracle_sql() -> str:
    """DuckDB oracle for the `pr_curve` branch of text_corpus_stats: the
    identical quality-score chain (length/stopword/punct composite, floored
    at 4 digits), per-threshold aggregation, TOP-DOWN cumulative windows,
    and the NULL-propagating F1 (undefined recall stays NULL — the
    binary_auc contract). Emitted as a `UNION ALL` tail."""
    return f"""
            UNION ALL
            SELECT 'pr_curve' AS branch,
                CAST(CAST(floor(threshold * 10000.0 + 0.5) AS BIGINT)
                    AS VARCHAR) AS key,
                CAST(npp AS BIGINT) AS n,
                floor(prec * 10000.0 + 0.5) / 10000.0 AS metric_a,
                CASE
                    WHEN rec IS NOT NULL AND prec + rec > 0 THEN
                        floor((2 * prec * rec / (prec + rec)) * 10000.0 + 0.5)
                            / 10000.0
                    WHEN rec IS NOT NULL THEN 0.0
                    ELSE NULL
                END AS metric_b
            FROM (
                SELECT threshold,
                    sum(n_here) OVER w AS npp,
                    CAST(sum(pos_here) OVER w AS DOUBLE)
                        / (sum(n_here) OVER w) AS prec,
                    CASE WHEN sum(pos_here) OVER tot > 0
                         THEN CAST(sum(pos_here) OVER w AS DOUBLE)
                            / (sum(pos_here) OVER tot)
                         ELSE NULL END AS rec
                FROM (
                    SELECT quality AS threshold, count(*) AS n_here,
                        sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                            AS pos_here
                    FROM (
                        SELECT doc_id,
                            floor((0.5 * least(length(text) / 500.0, 1.0)
                                + 0.3 * least(stop_r * 4.0, 1.0)
                                + 0.2 * (1.0 - least(punct_r * 5.0, 1.0)))
                                * 10000.0 + 0.5) / 10000.0 AS quality
                        FROM (
                            SELECT doc_id, text,
                                len(list_filter(
                                    regexp_split_to_array(
                                        trim(lower(text)), '\\s+'),
                                    t -> t IN {STOPWORDS_SQL}))
                                  / greatest(len(regexp_split_to_array(
                                        trim(lower(text)), '\\s+')), 1)
                                  AS stop_r,
                                (length(text) - length(regexp_replace(
                                    text, '[.,!?;:]', '', 'g')))
                                  / greatest(length(text), 1) AS punct_r
                            FROM documents
                        )
                    )
                    GROUP BY 1
                )
                WINDOW w AS (ORDER BY threshold DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    tot AS (ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)
            )
"""


def _ppl_oracle_sql(
    k: float = 0.1, lambdas: tuple[float, float, float] = (0.1, 0.3, 0.6)
) -> str:
    """DuckDB oracle for the `ppl` branch of text_corpus_stats: the
    identical self-trained interpolated trigram LM — lowercased whitespace
    tokens, trigram counts + (w1,w2) context rollup, bigram counts + (u1)
    rollup, unigram counts, distinct-token vocabulary and token total — and
    the same λ-weighted −ln scoring sum in the same addition order
    (uni + bi + tri), rounded like the Spark side. Emitted as a
    `UNION ALL` tail for the entry's f-string."""
    l1, l2, l3 = lambdas
    return f"""
            UNION ALL
            SELECT 'ppl' AS branch, CAST(doc_id AS VARCHAR) AS key,
                CAST(nt AS BIGINT) AS n,
                floor(exp(s / nt) * 10000.0 + 0.5) / 10000.0 AS metric_a,
                floor((s / nt) * 1000000.0 + 0.5) / 1000000.0 AS metric_b
            FROM (
            WITH tk AS (
                SELECT doc_id,
                    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                    END AS toks
                FROM documents
            ),
            tg AS (
                SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
                FROM (
                    SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk
                )
            ),
            bg AS (
                SELECT doc_id, toks[i] AS u1, toks[i + 1] AS u2 FROM (
                    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tk
                )
            ),
            c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
            cctx AS (SELECT w1, w2, sum(c3) AS cctx FROM c3 GROUP BY 1, 2),
            cb AS (SELECT u1, u2, count(*) AS cb FROM bg GROUP BY 1, 2),
            cb1 AS (SELECT u1, sum(cb) AS cb1 FROM cb GROUP BY 1),
            cu AS (
                SELECT t, count(*) AS cu
                FROM (SELECT unnest(toks) AS t FROM tk) GROUP BY 1
            ),
            sc AS (
                SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v,
                       CAST(count(*) AS DOUBLE) AS ntok
                FROM (SELECT unnest(toks) AS t FROM tk)
            )
            SELECT tg.doc_id, count(*) AS nt,
                sum(-ln(
                    {l1} * ((cu.cu + {k}) / (ntok + {k} * v))
                  + {l2} * ((cb.cb + {k}) / (cb1.cb1 + {k} * v))
                  + {l3} * ((c3.c3 + {k}) / (cctx.cctx + {k} * v))
                )) AS s
            FROM tg
            JOIN c3 USING (w1, w2, w3)
            JOIN cctx USING (w1, w2)
            JOIN cb ON tg.w2 = cb.u1 AND tg.w3 = cb.u2
            JOIN cb1 ON tg.w2 = cb1.u1
            JOIN cu ON tg.w3 = cu.t
            CROSS JOIN sc
            GROUP BY tg.doc_id
            )
"""


def _link_rank_oracle_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """DuckDB oracle for the `link_rank` branch of text_corpus_stats: the
    full linkgraph chain in SQL — synthetic pages built from the same
    doc_id arithmetic, href extraction with the IDENTICAL regex constants
    (linkgraph.HREF_DQ_RE/HREF_SQ_RE), the same entity-decode +
    fragment-strip + resolution CASE ladder, host aggregation via
    urls._HOST_RE, and an UNROLLED damped power iteration with the same
    uniform dangling-mass correction. Emitted as a `UNION ALL` tail for the
    entry's f-string."""
    from kafka_connector_s3_sink_spark.operators.linkgraph import (
        ABSOLUTE_RE,
        HREF_DQ_RE,
        HREF_SQ_RE,
        NON_HTTP_RE,
    )
    from kafka_connector_s3_sink_spark.operators.urls import _HOST_RE

    dq = HREF_DQ_RE.replace("'", "''")
    sq = HREF_SQ_RE.replace("'", "''")
    iters = []
    for i in range(1, iterations + 1):
        p = f"r{i - 1}"
        iters.append(
            f"""
            d{i} AS (
                SELECT coalesce(sum(rank), 0.0) AS dm FROM {p}
                WHERE node NOT IN (SELECT src FROM ow)
            ),
            c{i} AS (
                SELECT e.dst_host AS node,
                    sum(r.rank * CAST(e.cnt AS DOUBLE) / o.ow) AS contrib
                FROM edges e JOIN {p} r ON e.src_host = r.node
                JOIN ow o ON e.src_host = o.src
                GROUP BY 1
            ),
            r{i} AS (
                SELECT nodes.node,
                    (1.0 - {damping}) / n
                        + {damping} * (coalesce(c.contrib, 0.0) + dm / n) AS rank
                FROM nodes CROSS JOIN cnt CROSS JOIN d{i}
                LEFT JOIN c{i} c ON nodes.node = c.node
            )"""
        )
    last = f"r{iterations}"
    return f"""
            UNION ALL
            SELECT 'link_rank' AS branch, key, n, metric_a, metric_b FROM (
            WITH pages AS (
                SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                       || '.com/dir/page' || CAST(doc_id AS VARCHAR) || '.html' AS url,
                    CASE WHEN doc_id % 3 <> 0
                         THEN '<a href="https://site'
                              || CAST((doc_id * 3 + 1) % 7 AS VARCHAR) || '.com/x">a</a>'
                         ELSE '' END
                    || '<a href="//site' || CAST((doc_id + 2) % 7 AS VARCHAR)
                       || '.com/y">b</a>'
                    || '<a href="/local/z">c</a>'
                    || CASE WHEN doc_id % 2 = 0
                            THEN '<a href="sub/page.html">d</a>' ELSE '' END
                    || '<a href="mailto:x@y">e</a>' AS html
                FROM documents
            ),
            hr AS (
                SELECT url AS src_url, unnest(list_concat(
                    regexp_extract_all(html, '{dq}', 1),
                    regexp_extract_all(html, '{sq}', 1))) AS href
                FROM pages
            ),
            res AS (
                SELECT src_url,
                    CASE
                        WHEN h = '' OR regexp_matches(h, '{NON_HTTP_RE}') THEN NULL
                        WHEN scheme_host = '' THEN NULL
                        WHEN regexp_matches(h, '{ABSOLUTE_RE}') THEN h
                        WHEN h LIKE '//%' THEN scheme || ':' || h
                        WHEN h LIKE '/%' THEN scheme_host || h
                        ELSE scheme_host || pdir || h
                    END AS dst_url
                FROM (
                    SELECT src_url,
                        regexp_replace(replace(replace(replace(replace(href,
                            '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                            '&quot;', '"'), '#.*$', '') AS h,
                        regexp_extract(src_url,
                            '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) AS scheme,
                        regexp_extract(src_url,
                            '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS scheme_host,
                        CASE WHEN regexp_replace(regexp_extract(src_url,
                                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                                '[^/]*$', '') = ''
                             THEN '/'
                             ELSE regexp_replace(regexp_extract(src_url,
                                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                                '[^/]*$', '')
                        END AS pdir
                    FROM hr)
            ),
            edges AS (
                SELECT src_host, dst_host, count(*) AS cnt FROM (
                    SELECT lower(nullif(regexp_extract(src_url, '{_HOST_RE}', 1), ''))
                               AS src_host,
                           lower(nullif(regexp_extract(dst_url, '{_HOST_RE}', 1), ''))
                               AS dst_host
                    FROM res WHERE dst_url IS NOT NULL)
                WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
                GROUP BY 1, 2
            ),
            nodes AS (SELECT DISTINCT node FROM (
                SELECT src_host AS node FROM edges
                UNION ALL SELECT dst_host FROM edges)),
            cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            ow AS (
                SELECT src_host AS src, sum(CAST(cnt AS DOUBLE)) AS ow
                FROM edges GROUP BY 1
            ),
            r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN cnt),
            {",".join(iters)}
            SELECT {last}.node AS key,
                CAST(coalesce(od.out_links, 0) AS BIGINT) AS n,
                floor({last}.rank * 1000000.0 + 0.5) / 1000000.0 AS metric_a,
                CAST(NULL AS DOUBLE) AS metric_b
            FROM {last} LEFT JOIN (
                SELECT src_host, sum(cnt) AS out_links FROM edges GROUP BY 1
            ) od ON {last}.node = od.src_host
            )
"""


def _pq_oracle_sql(
    m: int = 8,
    k_codes: int = 16,
    k_cand: int = 50,
    k: int = 10,
    fit_sample_cap: int = 256,
) -> str:
    """DuckDB oracle for the `pq` branch of ann_topk: replays
    similarity.pq_codebooks / pq_encode / pq_topk_rescored end-to-end —
    unit normalization, seeded-hash fit sample (salt 'pq:'), lowest-id
    seed subvectors with code ids 0..k−1 in id order, one Lloyd step per
    subspace (rounded squared-L2 argmin via the dot identity, ties →
    lowest code; empty codes keep their seed), full-corpus encoding, the
    per-query ADC lookup-table sum (safe under summation-order differences
    because every LUT entry is pre-rounded to 1e-4 — see operator
    docstring), rank ≤ k_cand candidates, exact-cosine rescoring, final
    rank ≤ k. Mirrors the engine's rounding step-for-step."""

    def rd2(a: str, b: str) -> str:
        # floor-rounded ‖a−b‖² via the same dot-product identity/order
        return (
            f"floor((list_dot_product({a}, {a})"
            f" - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b})) * 10000.0 + 0.5) / 10000.0"
        )

    def rcos(a: str, b: str) -> str:
        return (
            f"floor((list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f"    * sqrt(list_dot_product({b}, {b})))) * 10000.0 + 0.5) / 10000.0"
        )

    return f"""
    WITH raw AS (
        SELECT vec_id AS vid, embedding::DOUBLE[] AS vec0 FROM embeddings
    ),
    nz AS (
        SELECT vid, vec0 FROM raw
        WHERE len(list_filter(vec0, x -> x <> 0)) > 0
    ),
    v AS (
        SELECT vid,
            list_transform(vec0,
                x -> x / sqrt(list_dot_product(vec0, vec0))) AS vec
        FROM nz
    ),
    cnt AS (SELECT count(*) AS n FROM v),
    samp AS (
        SELECT vid, vec FROM v, cnt
        WHERE CAST('0x' || substr(md5('pq:' || CAST(vid AS VARCHAR)), 1, 4) AS INTEGER)
              < greatest(1, least(65536, floor({fit_sample_cap}.0 / n * 65536)))
    ),
    dimq AS (
        SELECT CAST(len(vec) // {m} AS INTEGER) AS d FROM v LIMIT 1
    ),
    subs AS (SELECT CAST(unnest(range(0, {m})) AS INTEGER) AS sub),
    seed AS (
        SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS code,
            vec
        FROM (SELECT vid, vec FROM samp ORDER BY vid LIMIT {k_codes})
    ),
    seedsub AS (
        SELECT code, sub,
            vec[CAST(sub*d+1 AS INTEGER) : CAST((sub+1)*d AS INTEGER)] AS cvec
        FROM seed, subs, dimq
    ),
    sampsub AS (
        SELECT vid, sub,
            vec[CAST(sub*d+1 AS INTEGER) : CAST((sub+1)*d AS INTEGER)] AS svec
        FROM samp, subs, dimq
    ),
    a1 AS (
        SELECT vid, sub, svec, code FROM (
            SELECT s.vid, s.sub, s.svec, c.code,
                {rd2("s.svec", "c.cvec")} AS d2
            FROM sampsub s JOIN seedsub c ON c.sub = s.sub
        )
        QUALIFY row_number() OVER (
            PARTITION BY vid, sub ORDER BY d2 ASC, code ASC
        ) = 1
    ),
    ud AS (
        SELECT sub, code,
            unnest(list_transform(range(1, len(svec) + 1),
                i -> struct_pack(pos := i, val := svec[i]))) AS u
        FROM a1
    ),
    dimavg AS (
        SELECT sub, code, u.pos AS pos, avg(u.val) AS mval
        FROM ud GROUP BY sub, code, u.pos
    ),
    fitted AS (
        SELECT sub, code, list(mval ORDER BY pos) AS cvec
        FROM dimavg GROUP BY sub, code
    ),
    cents AS (
        SELECT s.sub, s.code, coalesce(f.cvec, s.cvec) AS cvec
        FROM seedsub s LEFT JOIN fitted f
          ON f.sub = s.sub AND f.code = s.code
    ),
    vsub AS (
        SELECT vid, sub,
            vec[CAST(sub*d+1 AS INTEGER) : CAST((sub+1)*d AS INTEGER)] AS svec
        FROM v, subs, dimq
    ),
    encd AS (
        SELECT vid, sub, code FROM (
            SELECT e.vid, e.sub, c.code, {rd2("e.svec", "c.cvec")} AS d2
            FROM vsub e JOIN cents c ON c.sub = e.sub
        )
        QUALIFY row_number() OVER (
            PARTITION BY vid, sub ORDER BY d2 ASC, code ASC
        ) = 1
    ),
    qsub AS (
        SELECT vid AS query_id, sub,
            vec[CAST(sub*d+1 AS INTEGER) : CAST((sub+1)*d AS INTEGER)] AS svec
        FROM v, subs, dimq WHERE vid < 5
    ),
    lut AS (
        SELECT q.query_id, q.sub, c.code, {rd2("q.svec", "c.cvec")} AS d2
        FROM qsub q JOIN cents c ON c.sub = q.sub
    ),
    adc AS (
        SELECT l.query_id, e.vid AS nbr_id,
            floor((-(sum(l.d2))) * 10000.0 + 0.5) / 10000.0 AS ascore
        FROM encd e
        JOIN lut l ON l.sub = e.sub AND l.code = e.code
        WHERE e.vid <> l.query_id
        GROUP BY l.query_id, e.vid
    ),
    cand AS (
        SELECT query_id, nbr_id FROM adc
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY ascore DESC, nbr_id ASC
        ) <= {k_cand}
    ),
    resc AS (
        SELECT c.query_id, c.nbr_id, {rcos("qv.vec", "cv.vec")} AS score
        FROM cand c
        JOIN v cv ON cv.vid = c.nbr_id
        JOIN v qv ON qv.vid = c.query_id
    )
    SELECT query_id, nbr_id, score, rank FROM (
        SELECT query_id, nbr_id, score,
            row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, nbr_id ASC
            ) AS rank
        FROM resc
    ) WHERE rank <= {k}
"""


def _bm25_oracle_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB oracle for the `bm25` branch of ann_topk: the identical
    tokenize → tf/df → Okapi scoring chain as operators/search.bm25_topk —
    same split regex (search.TOKEN_SPLIT_RE), same set-semantics query
    terms, same non-negative idf, scores rounded before ranking with the
    same doc-id tiebreak."""
    from kafka_connector_s3_sink_spark.operators.search import TOKEN_SPLIT_RE

    return f"""
    WITH toks AS (
        SELECT doc_id,
            list_filter(regexp_split_to_array(lower(trim(text)), '{TOKEN_SPLIT_RE}'),
                        t -> t <> '') AS toks
        FROM documents
    ),
    tf AS (
        SELECT doc_id, dl, term, count(*) AS tf FROM (
            SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toks
        ) GROUP BY doc_id, dl, term
    ),
    q AS (
        SELECT doc_id AS query_id,
            unnest(list_distinct(list_slice(toks, 1, 4))) AS term
        FROM toks WHERE doc_id < 3
    ),
    terms AS (SELECT DISTINCT term FROM q),
    posting AS (SELECT tf.* FROM tf JOIN terms USING (term)),
    dfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
    scalars AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM toks),
    scored AS (
        SELECT q.query_id, posting.doc_id AS nbr_id,
            floor(sum(
                ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                * tf * ({k1} + 1.0)
                / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))
            ) * 10000.0 + 0.5) / 10000.0 AS score
        FROM posting
        JOIN dfreq USING (term)
        JOIN q USING (term)
        CROSS JOIN scalars
        GROUP BY q.query_id, posting.doc_id
    )
    SELECT query_id, nbr_id, score,
        row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, nbr_id ASC
        ) AS rank
    FROM scored QUALIFY rank <= {k}
"""


def _semantic_oracle_sql(
    threshold: float = 0.999, n_centroids: int = 8, fit_sample_cap: int = 256
) -> str:
    """DuckDB oracle for the `kmeans` branch of dedup_embedding_cosine:
    re-runs dedup.semantic_dupes' full chain in SQL — the scaled-copy corpus
    fixture, the deterministic k-means fit (seeded-hash sample, lowest-id
    seeds, one rounded-cosine Lloyd step — the same CTE chain as
    _ivf_oracle_sql), full-corpus argmax assignment, and same-cell pair
    generation at the cosine threshold."""

    def rcos(a: str, b: str) -> str:
        return (
            f"floor((list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f"    * sqrt(list_dot_product({b}, {b})))) * 10000.0 + 0.5) / 10000.0"
        )

    return f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
            list_transform(embedding::DOUBLE[], x -> x * 1.5) AS vec
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    v AS (SELECT vec_id AS vid, vec FROM corpus),
    cnt AS (SELECT count(*) AS n FROM v),
    samp AS (
        SELECT vid, vec FROM v, cnt
        WHERE CAST('0x' || substr(md5('ivf:' || CAST(vid AS VARCHAR)), 1, 4) AS INTEGER)
              < greatest(1, least(65536, floor({fit_sample_cap}.0 / n * 65536)))
    ),
    seed AS (
        SELECT vid AS centroid_id, vec AS cvec FROM samp
        ORDER BY vid LIMIT {n_centroids}
    ),
    s1 AS (
        SELECT vid, vec, centroid_id, {rcos("vec", "cvec")} AS ccos
        FROM samp CROSS JOIN seed
    ),
    a1 AS (
        SELECT vid, vec, centroid_id FROM s1
        QUALIFY row_number() OVER (
            PARTITION BY vid ORDER BY ccos DESC, centroid_id ASC
        ) = 1
    ),
    ud AS (
        SELECT centroid_id,
            unnest(list_transform(range(1, len(vec) + 1),
                i -> struct_pack(pos := i, val := vec[i]))) AS u
        FROM a1
    ),
    dim AS (
        SELECT centroid_id, u.pos AS pos, avg(u.val) AS m
        FROM ud GROUP BY centroid_id, u.pos
    ),
    cents AS (
        SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM dim GROUP BY centroid_id
    ),
    s2 AS (
        SELECT vid, vec, centroid_id, {rcos("vec", "cvec")} AS ccos
        FROM v CROSS JOIN cents
    ),
    a2 AS (
        SELECT vid, vec, centroid_id FROM s2
        QUALIFY row_number() OVER (
            PARTITION BY vid ORDER BY ccos DESC, centroid_id ASC
        ) = 1
    )
    SELECT a.vid AS id1, b.vid AS id2, {rcos("a.vec", "b.vec")} AS cosine
    FROM a2 a JOIN a2 b ON a.centroid_id = b.centroid_id AND a.vid < b.vid
    WHERE {rcos("a.vec", "b.vec")} >= {threshold}
"""


def _ivf_oracle_sql(
    nprobe: int = 1, n_centroids: int = 8, k: int = 10, fit_sample_cap: int = 256
) -> str:
    """DuckDB oracle for ivf_topk: reproduces the engine's deterministic
    pipeline exactly — seeded-hash fit sample (first 16 md5 bits of 'ivf:id'
    under cap/count of the hash space), lowest-id seeds from the sample, one
    Lloyd iteration over the sample, full-corpus argmax assignment, and
    top-nprobe query probing."""
    return f"""
    WITH v AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS vec FROM embeddings),
    cnt AS (SELECT count(*) AS n FROM v),
    samp AS (
        SELECT vid, vec FROM v, cnt
        WHERE CAST('0x' || substr(md5('ivf:' || CAST(vid AS VARCHAR)), 1, 4) AS INTEGER)
              < greatest(1, least(65536, floor({fit_sample_cap}.0 / n * 65536)))
    ),
    seed AS (
        SELECT vid AS centroid_id, vec AS cvec FROM samp
        ORDER BY vid LIMIT {n_centroids}
    ),
    s1 AS (
        SELECT vid, vec, centroid_id,
            floor((list_dot_product(vec, cvec)
                / (sqrt(list_dot_product(vec, vec))
                   * sqrt(list_dot_product(cvec, cvec)))) * 10000.0 + 0.5) / 10000.0 AS ccos
        FROM samp CROSS JOIN seed
    ),
    a1 AS (
        SELECT vid, vec, centroid_id FROM s1
        QUALIFY row_number() OVER (
            PARTITION BY vid ORDER BY ccos DESC, centroid_id ASC
        ) = 1
    ),
    ud AS (
        SELECT centroid_id,
            unnest(list_transform(range(1, len(vec) + 1),
                i -> struct_pack(pos := i, val := vec[i]))) AS u
        FROM a1
    ),
    dim AS (
        SELECT centroid_id, u.pos AS pos, avg(u.val) AS m
        FROM ud GROUP BY centroid_id, u.pos
    ),
    cents AS (
        SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM dim GROUP BY centroid_id
    ),
    s2 AS (
        SELECT vid, vec, centroid_id,
            floor((list_dot_product(vec, cvec)
                / (sqrt(list_dot_product(vec, vec))
                   * sqrt(list_dot_product(cvec, cvec)))) * 10000.0 + 0.5) / 10000.0 AS ccos
        FROM v CROSS JOIN cents
    ),
    a2 AS (
        SELECT vid, vec, centroid_id FROM s2
        QUALIFY row_number() OVER (
            PARTITION BY vid ORDER BY ccos DESC, centroid_id ASC
        ) = 1
    ),
    qprobe AS (
        SELECT vid, vec, centroid_id FROM s2
        WHERE vid < 5
        QUALIFY row_number() OVER (
            PARTITION BY vid ORDER BY ccos DESC, centroid_id ASC
        ) <= {nprobe}
    ),
    scored AS (
        SELECT q.vid AS query_id, c.vid AS nbr_id,
            floor((list_dot_product(q.vec, c.vec)
                / (sqrt(list_dot_product(q.vec, q.vec))
                   * sqrt(list_dot_product(c.vec, c.vec)))) * 10000.0 + 0.5) / 10000.0 AS cosine
        FROM qprobe q JOIN a2 c ON q.centroid_id = c.centroid_id
        WHERE c.vid <> q.vid
    )
    SELECT query_id, nbr_id, cosine,
        row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC
        ) AS rank
    FROM scored
    QUALIFY rank <= {k}
"""


def _pack_split_oracle_sql(
    ctx: int = 512,
    n_shards: int = 32,
    mix: bool = False,
    budget: bool = False,
    assemble: bool = False,
    map_ids: bool = False,
    order_epoch: int | None = None,
) -> str:
    """DuckDB twin of pack_sequences (two-level prefix sum over md5 shard/order
    keys, concat-and-chunk segmentation) joined with hash_split's 90/5/5
    bucket thresholds — the same expressions as the engine, so the layout must
    match bit-for-bit. ``mix=True`` packs the UP-sampled 3-source mixture
    instead: rows replicated per epoch slot under mixture_sample's shared
    bucket threshold, packed by the composite replica id
    (pid = '<epoch>:<doc_id>'), then labeled with the ORIGINAL doc's split.
    ``budget=True`` replays the token_count_col path (r13): per-document
    budgets are the deterministic whitespace count × (3 + doc_id % 7)
    instead of the heuristic, so the precomputed-budget prefix sum is
    hash-gated too. ``assemble=True`` (r13) replays
    ``packing.assemble_packs`` over the plain layout: every document
    re-sliced by (doc_offset, seg_tokens) and re-concatenated in slot
    order per pack — the end-to-end reconstruction gate. ``map_ids=True``
    (r15) replays ``tokenizer.map_tokens_to_ids`` over the assemble
    branch's windows: the vocab is the corpus's distinct tokens of length
    >= 4 sorted and capped at 20k with UNK at id 0 (row_number is 1-based,
    exactly the Python list's indices after the UNK head), each window
    token resolves through unnest-with-position -> LEFT JOIN vocab ->
    coalesce 0 -> list(id ORDER BY position). ``order_epoch`` (r15)
    replays ``serving.serving_order`` over the plain layout's pack grain:
    shard = md5-bucket('serve:shard') % 8 (epoch-stable), intra-shard
    position = row_number over md5('serve:<epoch>:' || pack_id), global
    step = shard-visit prefix sum (shards ordered by
    md5('serve:<epoch>:shard:' || shard_id)) + position - 1."""
    bucket = (
        "CAST('0x' || substr(md5('{seed}:' || CAST({id} AS VARCHAR)), 1, 4)"
        " AS INTEGER)"
    )
    if mix:
        src = f"""src AS (
        SELECT CAST(e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) AS pid,
               doc_id, text
        FROM (
            SELECT doc_id, text, source,
                {bucket.format(seed="mix", id="doc_id")} AS mbucket
            FROM documents WHERE source IN ('src0', 'src1', 'src2')
        ), (SELECT unnest(range(0, 3)) AS e)
        WHERE (source = 'src0' AND (e < 2 OR (e = 2 AND mbucket < {int(0.3 * 65536)})))
           OR (source = 'src1' AND e = 0)
           OR (source = 'src2' AND e = 0 AND mbucket < {int(0.4 * 65536)})
    )"""
        branch = "'mix_pack'"
        epoch = "CAST(split_part(pid, ':', 1) AS INTEGER)"
    else:
        src = "src AS (SELECT doc_id AS pid, doc_id, text FROM documents)"
        branch = "'budget_pack'" if budget else "'pack'"
        epoch = "CAST(NULL AS INTEGER)"
    count_sql = "len(regexp_split_to_array(trim(text), '\\s+'))"
    if budget:
        count_sql = f"{count_sql} * (3 + doc_id % 7)"
    final = f"""
    SELECT doc_id, n_tokens, pack_id,
        greatest(strt, pack_id * {ctx}) - pack_id * {ctx} AS pack_pos,
        greatest(strt, pack_id * {ctx}) - strt AS doc_offset,
        least(strt + n_tokens, (pack_id + 1) * {ctx}) - greatest(strt, pack_id * {ctx}) AS seg_tokens,
        CASE
            WHEN {bucket.format(seed="split", id="doc_id")} < CAST(floor(0.9 * 65536) AS INTEGER) THEN 'train'
            WHEN {bucket.format(seed="split", id="doc_id")} < CAST(floor(0.95 * 65536) AS INTEGER) THEN 'val'
            ELSE 'test'
        END AS split,
        {branch} AS branch,
        {epoch} AS mix_epoch,
        CAST(NULL AS VARCHAR) AS pack_text,
        '' AS pack_ids
    FROM seg
"""
    if order_epoch is not None:
        # the serving-order twin (r15): pack grain -> epoch-stable md5
        # shard -> per-epoch md5 visit order (row_number) -> shard-visit
        # prefix sum -> global_step. Same column reuse as the Spark
        # branch: pack_pos := shard_id, doc_offset := shard_pos,
        # seg_tokens := global_step, mix_epoch := epoch.
        e = order_epoch
        final = f"""
    , packs AS (
        SELECT pack_id,
            CAST(sum(least(strt + n_tokens, (pack_id + 1) * {ctx})
                - greatest(strt, pack_id * {ctx})) AS BIGINT) AS pack_tokens
        FROM seg GROUP BY pack_id
    ),
    sh AS (
        SELECT pack_id, pack_tokens,
            CAST({bucket.format(seed="serve:shard", id="pack_id")} % 8
                AS BIGINT) AS shard_id,
            md5('serve:{e}:' || CAST(pack_id AS VARCHAR)) AS okey
        FROM packs
    ),
    pos AS (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY shard_id ORDER BY okey, pack_id
        ) AS BIGINT) AS shard_pos FROM sh
    ),
    cnt AS (
        SELECT shard_id, count(*) AS c,
            md5('serve:{e}:shard:' || CAST(shard_id AS VARCHAR)) AS skey
        FROM sh GROUP BY shard_id
    ),
    soff AS (
        SELECT shard_id, CAST(coalesce(sum(c) OVER (
            ORDER BY skey, shard_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS BIGINT) AS soff FROM cnt
    )
    SELECT CAST(NULL AS BIGINT) AS doc_id,
        pack_tokens AS n_tokens, pack_id,
        shard_id AS pack_pos,
        shard_pos AS doc_offset,
        soff + shard_pos - 1 AS seg_tokens,
        CAST(NULL AS VARCHAR) AS split,
        'order' AS branch,
        CAST({e} AS INTEGER) AS mix_epoch,
        CAST(NULL AS VARCHAR) AS pack_text,
        '' AS pack_ids
    FROM pos JOIN soff USING (shard_id)
"""
    if assemble or map_ids:
        # the reconstruction twin: re-slice each document's whitespace
        # tokens by (doc_offset, seg_tokens) and re-concatenate in slot
        # order per pack (string_agg ORDER BY pack_pos — unique within a
        # pack). list_slice is 1-based INCLUSIVE on both ends.
        pos = f"greatest(strt, pack_id * {ctx})"
        asm_sub = f"""(
        SELECT pack_id,
            CAST(sum(least(strt + n_tokens, (pack_id + 1) * {ctx}) - {pos}) AS BIGINT) AS pack_tokens,
            string_agg(
                array_to_string(list_slice(
                    regexp_split_to_array(trim(text), '\\s+'),
                    ({pos} - strt) + 1,
                    ({pos} - strt)
                        + (least(strt + n_tokens, (pack_id + 1) * {ctx}) - {pos})
                ), ' '),
                ' ' ORDER BY {pos} - pack_id * {ctx}
            ) AS pack_text
        FROM seg JOIN documents USING (doc_id)
        GROUP BY pack_id
    )"""
        if assemble:
            final = f"""
    SELECT CAST(NULL AS BIGINT) AS doc_id,
        pack_tokens AS n_tokens, pack_id,
        CAST(NULL AS BIGINT) AS pack_pos,
        CAST(NULL AS BIGINT) AS doc_offset,
        CAST(NULL AS BIGINT) AS seg_tokens,
        CAST(NULL AS VARCHAR) AS split,
        'assemble' AS branch,
        CAST(NULL AS INTEGER) AS mix_epoch,
        pack_text,
        '' AS pack_ids
    FROM {asm_sub}
"""
        else:
            # map_ids (r15): the vocab table (distinct length>=4 tokens,
            # sorted, capped, row_number = the Python list index after
            # the UNK head), then each window token through
            # unnest-with-position -> lookup -> coalesce(0) ->
            # list(id ORDER BY position)
            final = f"""
    , asm AS (SELECT * FROM {asm_sub}),
    vtok AS (
        SELECT DISTINCT tok FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) >= 4
        ORDER BY tok LIMIT 20000
    ),
    vocab AS (
        SELECT tok, row_number() OVER (ORDER BY tok) AS id FROM vtok
    ),
    wpos AS (
        SELECT pack_id, pack_tokens, toks,
            unnest(range(1, len(toks) + 1)) AS p
        FROM (
            SELECT pack_id, pack_tokens,
                regexp_split_to_array(pack_text, ' ') AS toks
            FROM asm
        )
    ),
    wmap AS (
        SELECT u.pack_id, u.pack_tokens, u.p, coalesce(v.id, 0) AS id
        FROM (
            SELECT pack_id, pack_tokens, p, toks[p] AS tok FROM wpos
        ) u
        LEFT JOIN vocab v ON v.tok = u.tok
    )
    SELECT CAST(NULL AS BIGINT) AS doc_id,
        pack_tokens AS n_tokens, pack_id,
        CAST(NULL AS BIGINT) AS pack_pos,
        CAST(NULL AS BIGINT) AS doc_offset,
        CAST(NULL AS BIGINT) AS seg_tokens,
        CAST(NULL AS VARCHAR) AS split,
        'map_ids' AS branch,
        CAST(NULL AS INTEGER) AS mix_epoch,
        CAST(NULL AS VARCHAR) AS pack_text,
        string_agg(CAST(id AS VARCHAR), ' ' ORDER BY p) AS pack_ids
    FROM wmap
    GROUP BY pack_id, pack_tokens
"""
    return f"""
    WITH {src},
    t AS (
        SELECT pid, doc_id,
            {count_sql} AS n_tokens,
            {bucket.format(seed="pack", id="pid")} % {n_shards} AS shard,
            md5('pack:' || CAST(pid AS VARCHAR)) AS ord
        FROM src WHERE trim(text) <> ''
    ),
    loc AS (
        SELECT *, sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY ord, pid
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
        SELECT pid, doc_id, n_tokens, CAST(off + cum - n_tokens AS BIGINT) AS strt
        FROM loc JOIN off USING (shard)
    ),
    seg AS (
        SELECT pid, doc_id, n_tokens, strt,
            unnest(range(strt // {ctx}, (strt + n_tokens - 1) // {ctx} + 1)) AS pack_id
        FROM placed
    )
    {final}
"""


def _safe_pack_oracle_sql(ctx: int = 512, n_shards: int = 32) -> str:
    """DuckDB twin of the `safe_pack` branch: with_near_duplicates plant →
    normalized word-3-gram shingles → 16-hash MinHash → 4 bands of 4 →
    candidate band join → recursive min-label closure over candidate pairs
    (vertices = candidate members only) → split key coalesce(cluster, doc)
    → hash_split's md5 thresholds → the two-level pack layout. The same
    expression chains as the dedup_clusters and pack oracles, composed."""
    bucket = (
        "CAST('0x' || substr(md5('{seed}:' || CAST({id} AS VARCHAR)), 1, 4)"
        " AS INTEGER)"
    )
    return f"""
    WITH RECURSIVE nd AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id,
            regexp_replace(text, '\\s+\\S+\\s*$', '') AS text
        FROM documents WHERE doc_id % 10 = 0
    ),
    toks AS (SELECT doc_id, {TOKS} AS w FROM nd),
    shg AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM toks),
    sig AS (
        SELECT doc_id,
            list_transform(range(0, 16), j ->
                list_min(list_transform(s, x ->
                    md5(CAST(j AS VARCHAR) || ':' || x)))
            ) AS sg
        FROM shg
    ),
    bands AS (
        SELECT doc_id, b AS band_id,
            md5(array_to_string(sg[b*4+1 : b*4+4], '|')) AS band_hash
        FROM sig, (SELECT unnest(range(0, 4)) AS b)
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b
          ON a.band_hash = b.band_hash AND a.band_id = b.band_id
         AND a.doc_id < b.doc_id
    ),
    cand_ids AS (SELECT id1 AS id FROM cands UNION SELECT id2 FROM cands),
    edges AS (
        SELECT id1 AS src, id2 AS dst FROM cands
        UNION ALL
        SELECT id2 AS src, id1 AS dst FROM cands
    ),
    reach(id, r) AS (
        SELECT id, id FROM cand_ids
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    clus AS (SELECT id AS doc_id, min(r) AS ckey FROM reach GROUP BY id),
    skey AS (
        SELECT n.doc_id,
            coalesce(CAST(c.ckey AS VARCHAR), CAST(n.doc_id AS VARCHAR))
                AS key
        FROM nd n LEFT JOIN clus c ON n.doc_id = c.doc_id
    ),
    t AS (
        SELECT doc_id,
            len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
            {bucket.format(seed="pack", id="doc_id")} % {n_shards} AS shard,
            md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord
        FROM nd WHERE trim(text) <> ''
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
        SELECT t2.doc_id, n_tokens,
            CAST(off + cum - n_tokens AS BIGINT) AS strt
        FROM loc t2 JOIN off USING (shard)
    ),
    seg AS (
        SELECT doc_id, n_tokens, strt,
            unnest(range(strt // {ctx}, (strt + n_tokens - 1) // {ctx} + 1))
                AS pack_id
        FROM placed
    )
    SELECT s.doc_id, n_tokens, pack_id,
        greatest(strt, pack_id * {ctx}) - pack_id * {ctx} AS pack_pos,
        greatest(strt, pack_id * {ctx}) - strt AS doc_offset,
        least(strt + n_tokens, (pack_id + 1) * {ctx})
            - greatest(strt, pack_id * {ctx}) AS seg_tokens,
        CASE
            WHEN {bucket.format(seed="split", id="k.key")} < CAST(floor(0.9 * 65536) AS INTEGER) THEN 'train'
            WHEN {bucket.format(seed="split", id="k.key")} < CAST(floor(0.95 * 65536) AS INTEGER) THEN 'val'
            ELSE 'test'
        END AS split,
        'safe_pack' AS branch,
        CAST(NULL AS INTEGER) AS mix_epoch,
        CAST(NULL AS VARCHAR) AS pack_text,
        '' AS pack_ids
    FROM seg s JOIN skey k ON s.doc_id = k.doc_id
"""


def oracle_sql() -> dict[str, str]:
    return {
        "ann_ivf_topk": (
            f"SELECT *, 1 AS nprobe FROM ({_ivf_oracle_sql(nprobe=1)})\n"
            f"UNION ALL\nSELECT *, 2 AS nprobe FROM ({_ivf_oracle_sql(nprobe=2)})"
        ),
        "pipeline_pack_split": (
            f"SELECT * FROM ({_pack_split_oracle_sql()})\n"
            f"UNION ALL\nSELECT * FROM ({_pack_split_oracle_sql(mix=True)})\n"
            f"UNION ALL\nSELECT * FROM ({_safe_pack_oracle_sql()})\n"
            f"UNION ALL\nSELECT * FROM ({_pack_split_oracle_sql(budget=True)})\n"
            f"UNION ALL\nSELECT * FROM ({_pack_split_oracle_sql(assemble=True)})\n"
            f"UNION ALL\nSELECT * FROM ({_pack_split_oracle_sql(map_ids=True)})\n"
            f"UNION ALL\nSELECT * FROM ({_pack_split_oracle_sql(order_epoch=0)})\n"
            f"UNION ALL\nSELECT * FROM ({_pack_split_oracle_sql(order_epoch=1)})"
        ),
        "sink_projection_csv": f"""
            WITH {KAFKA_CTE},
            line AS (
                SELECT topic, partition, "offset",
                    concat(
                        coalesce(to_base64(encode(value)), ''), ',',
                        coalesce(to_base64(encode(key)), ''), ',',
                        coalesce(CAST("timestamp" AS VARCHAR), ''), ',',
                        coalesce(CAST("offset" AS VARCHAR), '')
                    ) AS csv_line
                FROM kafka
            )
            SELECT topic, partition, "offset", csv_line, 'string' AS converter
            FROM line
            UNION ALL
            SELECT topic, partition, "offset", csv_line, 'bytearray' AS converter
            FROM line
        """,
        "sink_group_topic_partition": f"""
            WITH {KAFKA_CTE}
            SELECT topic, partition,
                min("offset") AS start_offset,
                count(*) AS record_count,
                topic || '-' || CAST(partition AS VARCHAR) || '-'
                      || CAST(min("offset") AS VARCHAR) AS filename
            FROM kafka GROUP BY topic, partition
        """,
        "sink_group_key_upsert": f"""
            WITH {KAFKA_CTE}
            SELECT coalesce(key, 'null') AS group_key, topic, partition,
                "offset", value, 'upsert' AS branch,
                CAST(NULL AS BIGINT) AS valid_to,
                CAST(NULL AS INTEGER) AS is_current
            FROM kafka
            QUALIFY row_number() OVER (
                PARTITION BY coalesce(key, 'null') ORDER BY "offset" DESC
            ) = 1
            UNION ALL
            SELECT 'u' || CAST(user_id % 50 AS VARCHAR) AS group_key,
                'cdc' AS topic, 0 AS partition,
                event_id AS "offset", props AS value, 'cdc' AS branch,
                CAST(NULL AS BIGINT) AS valid_to,
                CAST(NULL AS INTEGER) AS is_current
            FROM (
                SELECT user_id, event_id, props
                FROM events
                QUALIFY row_number() OVER (
                    PARTITION BY user_id % 50 ORDER BY event_id DESC
                ) = 1
            )
            WHERE event_id % 7 <> 0
            UNION ALL
            SELECT group_key, topic, partition, "offset", value,
                'scd2' AS branch, valid_to, is_current
            FROM (
                SELECT 'u' || CAST(user_id % 50 AS VARCHAR) AS group_key,
                    'cdc' AS topic, 0 AS partition,
                    event_id AS "offset", props AS value,
                    CAST(lead(event_id) OVER (
                        PARTITION BY user_id % 50 ORDER BY event_id
                    ) AS BIGINT) AS valid_to,
                    CASE WHEN lead(event_id) OVER (
                        PARTITION BY user_id % 50 ORDER BY event_id
                    ) IS NULL THEN 1 ELSE 0 END AS is_current,
                    (event_id % 7 = 0) AS _del
                FROM events
            )
            WHERE NOT _del
        """,
        "sink_chunking": f"""
            WITH {KAFKA_CTE},
            numbered AS (
                SELECT topic, partition, "offset",
                    CAST(floor((row_number() OVER (
                        PARTITION BY topic, partition ORDER BY "offset"
                    ) - 1) / 100) AS INTEGER) AS chunk
                FROM kafka
            )
            SELECT topic, partition, chunk,
                min("offset") AS start_offset, count(*) AS record_count
            FROM numbered GROUP BY topic, partition, chunk
        """,
        "sink_timestamp_grouping": f"""
            WITH {KAFKA_CTE}
            SELECT topic, partition,
                strftime(epoch_ms("timestamp"), '%Y') AS ts_yyyy,
                strftime(epoch_ms("timestamp"), '%m') AS ts_mm,
                strftime(epoch_ms("timestamp"), '%d') AS ts_dd,
                min("offset") AS start_offset,
                count(*) AS record_count
            FROM kafka GROUP BY 1, 2, 3, 4, 5
        """,
        "sink_jsonl_render": f"""
            WITH {KAFKA_CTE}
            SELECT "offset",
                concat(
                    '{{"value":', value, ',"key":',
                    CASE WHEN key IS NULL THEN 'null' ELSE '"' || key || '"' END,
                    '}}'
                ) AS json_line,
                'jsonl' AS branch
            FROM kafka
            UNION ALL
            SELECT "offset", value AS json_line, 'unwrap' AS branch FROM kafka
        """,
        "sink_headers_csv": f"""
            WITH {KAFKA_CTE},
            rendered AS (
                SELECT "offset",
                    concat(
                        to_base64(encode('h-topic')), ':', to_base64(encode(topic)), ';',
                        to_base64(encode('h-offset')), ':',
                        to_base64(encode(CAST("offset" AS VARCHAR)))
                    ) AS headers_csv
                FROM kafka
            )
            SELECT 'render' AS branch, "offset", headers_csv FROM rendered
            UNION ALL
            SELECT 'roundtrip' AS branch, "offset", headers_csv FROM rendered
        """,
        "incremental_dedup": f"""
            WITH hist AS (SELECT doc_id, text FROM documents),
            batch AS (
                SELECT doc_id + 500000 AS doc_id, text
                FROM documents WHERE doc_id % 10 = 3
                UNION ALL
                SELECT doc_id + 600000 AS doc_id,
                    regexp_replace(text, '\\s+\\S+\\s*$', '') AS text
                FROM documents WHERE doc_id % 10 = 6
                UNION ALL
                SELECT orig + 700000 AS doc_id,
                    concat_ws(' ',
                        md5(CAST(orig AS VARCHAR) || ':0'),
                        md5(CAST(orig AS VARCHAR) || ':1'),
                        md5(CAST(orig AS VARCHAR) || ':2'),
                        md5(CAST(orig AS VARCHAR) || ':3'),
                        md5(CAST(orig AS VARCHAR) || ':4')
                    ) AS text
                FROM (SELECT doc_id AS orig FROM documents WHERE doc_id % 10 = 9)
            ),
            hist_hash AS (SELECT md5({NORM}) AS h, doc_id FROM hist),
            exact AS (
                SELECT b.doc_id, min(hh.doc_id) AS dup_of
                FROM (SELECT doc_id, md5({NORM}) AS h FROM batch) b
                JOIN hist_hash hh ON b.h = hh.h
                GROUP BY b.doc_id
            ),
            rest AS (
                SELECT * FROM batch
                WHERE doc_id NOT IN (SELECT doc_id FROM exact)
            ),
            htoks AS (SELECT doc_id, {TOKS} AS w FROM hist),
            hsh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM htoks),
            hsig AS (
                SELECT doc_id,
                    list_transform(range(0, 16), j ->
                        list_min(list_transform(s, x ->
                            md5(CAST(j AS VARCHAR) || ':' || x)))
                    ) AS sg
                FROM hsh
            ),
            hbands AS (
                SELECT doc_id, b AS band_id,
                    md5(array_to_string(sg[b*4+1 : b*4+4], '|')) AS band_hash
                FROM hsig, (SELECT unnest(range(0, 4)) AS b)
            ),
            btoks AS (SELECT doc_id, {TOKS} AS w FROM rest),
            bsh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM btoks),
            bsig AS (
                SELECT doc_id,
                    list_transform(range(0, 16), j ->
                        list_min(list_transform(s, x ->
                            md5(CAST(j AS VARCHAR) || ':' || x)))
                    ) AS sg
                FROM bsh
            ),
            bbands AS (
                SELECT doc_id, b AS band_id,
                    md5(array_to_string(sg[b*4+1 : b*4+4], '|')) AS band_hash
                FROM bsig, (SELECT unnest(range(0, 4)) AS b)
            ),
            cands AS (
                SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
                FROM bbands n JOIN hbands h
                  ON n.band_hash = h.band_hash AND n.band_id = h.band_id
            ),
            hex AS (SELECT doc_id, unnest(s) AS shingle FROM hsh),
            bex AS (SELECT doc_id, unnest(s) AS shingle FROM bsh),
            hsizes AS (SELECT doc_id, count(*) AS n_sh FROM hex GROUP BY 1),
            bsizes AS (SELECT doc_id, count(*) AS n_sh FROM bex GROUP BY 1),
            inter AS (
                SELECT c.new_id, c.hist_id, count(*) AS n_inter
                FROM cands c
                JOIN bex a ON a.doc_id = c.new_id
                JOIN hex b2 ON b2.doc_id = c.hist_id AND b2.shingle = a.shingle
                GROUP BY 1, 2
            ),
            scored AS (
                SELECT new_id, hist_id,
                    floor((n_inter / (s1.n_sh + s2.n_sh - n_inter)) * 10000.0 + 0.5)
                        / 10000.0 AS jaccard
                FROM inter
                JOIN bsizes s1 ON s1.doc_id = new_id
                JOIN hsizes s2 ON s2.doc_id = hist_id
                WHERE floor((n_inter / (s1.n_sh + s2.n_sh - n_inter)) * 10000.0 + 0.5)
                        / 10000.0 >= 0.8
            ),
            near AS (
                SELECT new_id AS doc_id, hist_id AS dup_of, jaccard
                FROM scored
                QUALIFY row_number() OVER (
                    PARTITION BY new_id ORDER BY jaccard DESC, hist_id ASC
                ) = 1
            )
            SELECT doc_id, 'exact_dup' AS status, dup_of,
                CAST(NULL AS DOUBLE) AS jaccard
            FROM exact
            UNION ALL
            SELECT doc_id, 'near_dup' AS status, dup_of, jaccard FROM near
            UNION ALL
            SELECT doc_id, 'keep' AS status, CAST(NULL AS BIGINT) AS dup_of,
                CAST(NULL AS DOUBLE) AS jaccard
            FROM rest
            WHERE doc_id NOT IN (SELECT doc_id FROM near)
        """,
        "sink_schema_rotation": f"""
            WITH {KAFKA_CTE},
            varied AS (
                SELECT topic, partition, "offset",
                    CASE WHEN ("offset" // 50) % 2 = 1
                         THEN regexp_replace(value, '}}$', ',"extra":1}}')
                         ELSE value END AS value
                FROM kafka
            ),
            fp AS (
                SELECT *, md5(array_to_string(list_sort(json_keys(value)), ',')) AS schema_fp
                FROM varied
            ),
            chg AS (
                SELECT *,
                    CASE WHEN lag(schema_fp) OVER w IS NULL
                           OR schema_fp <> lag(schema_fp) OVER w
                         THEN 1 ELSE 0 END AS is_chg
                FROM fp
                WINDOW w AS (PARTITION BY topic, partition ORDER BY "offset")
            ),
            runs AS (
                SELECT *,
                    CAST(sum(is_chg) OVER (
                        PARTITION BY topic, partition ORDER BY "offset"
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - 1 AS INTEGER) AS schema_run
                FROM chg
            )
            SELECT topic, partition, schema_run, schema_fp,
                min("offset") AS start_offset,
                count(*) AS record_count
            FROM runs
            GROUP BY topic, partition, schema_run, schema_fp
            ORDER BY topic, partition, schema_run
        """,
        "sink_avro_converter": """
            SELECT event_id, user_id, event_type,
                CASE WHEN event_id % 2 = 0
                     THEN CAST(json_extract(props, '$.k') AS INTEGER)
                     ELSE NULL END AS k,
                CASE WHEN event_id % 2 = 0 THEN 2 ELSE 1 END AS schema_id,
                CAST(NULL AS DOUBLE) AS amount_dbl,
                CAST(NULL AS BIGINT) AS created_us,
                CAST(NULL AS INTEGER) AS birth_days,
                CAST(NULL AS VARCHAR) AS txn_uuid
            FROM events
            UNION ALL
            SELECT event_id, CAST(NULL AS BIGINT) AS user_id,
                CAST(NULL AS VARCHAR) AS event_type,
                CAST(NULL AS INTEGER) AS k,
                3 AS schema_id,
                CAST(event_id % 10000 AS DOUBLE) AS amount_dbl,
                event_id * 1000000 AS created_us,
                CAST(event_id % 20000 AS INTEGER) AS birth_days,
                substr(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-' ||
                substr(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-' ||
                substr(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-' ||
                substr(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-' ||
                substr(md5(CAST(event_id AS VARCHAR)), 21, 12) AS txn_uuid
            FROM events WHERE event_id % 3 = 0
        """,
        "sink_json_converter": f"""
            WITH {KAFKA_CTE},
            parsed AS (
                SELECT topic,
                    CAST(json_extract(value, '$.k') AS INTEGER) AS k
                FROM kafka
            )
            SELECT topic,
                count(*) AS n_records,
                CAST(sum(k) AS BIGINT) AS sum_k,
                min(k) AS min_k,
                max(k) AS max_k
            FROM parsed GROUP BY topic ORDER BY topic
        """,
        "cube_order_stats": """
            SELECT o_orderstatus, o_orderpriority,
                count(*) AS n_orders,
                floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS sum_price
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """,
        "semi_join_parts": """
            SELECT p_partkey, p_name, p_brand FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
            ORDER BY p_partkey
        """,
        "scalar_string_functions": r"""
            SELECT o_orderkey,
                upper(o_orderpriority) AS prio_upper,
                substr(o_orderpriority, 1, 1) AS prio_code,
                length(o_orderpriority) AS prio_len,
                concat_ws('#', o_orderstatus, o_orderpriority) AS status_prio,
                abs(o_totalprice - 100000.0) AS price_dev,
                floor((sqrt(o_totalprice)) * 10000.0 + 0.5) / 10000.0 AS price_sqrt,
                o_orderkey % 7 AS key_mod7,
                year(o_orderdate) AS o_year,
                month(o_orderdate) AS o_month,
                day(o_orderdate) AS o_day,
                CASE WHEN o_totalprice > 200000 THEN 'high'
                     WHEN o_totalprice > 50000 THEN 'mid'
                     ELSE 'low' END AS price_band,
                regexp_extract(c_name, '(\d+)$', 1) AS name_digits,
                lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS key_padded,
                translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated,
                replace(c_name, 'Customer', 'Cust') AS name_short,
                str_split(c_name, '#')[1] AS name_prefix,
                CAST(instr(c_name, '#') AS INTEGER) AS hash_pos,
                reverse(c_mktsegment) AS seg_reversed,
                upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
                    AS seg_initcap,
        """ + _zval_oracle_expr() + """ AS zval
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "json_functions": """
            SELECT event_id,
                json_extract_string(props, '$.k') AS k_str,
                CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
                array_to_string(json_keys(props), ',') AS keys,
                CAST(length(props) AS INTEGER) AS raw_len,
            FROM events
        """,
        "window_rank_ntile": """
            SELECT o_orderkey, o_orderstatus,
                rank() OVER w AS price_rank,
                dense_rank() OVER w AS price_dense_rank,
                CAST(ntile(4) OVER w AS INTEGER) AS price_quartile
            FROM orders
            WINDOW w AS (
                PARTITION BY o_orderstatus
                ORDER BY o_totalprice DESC, o_orderkey ASC
            )
        """,
        "value_statistics": """
            SELECT event_type,
                count(DISTINCT user_id) AS n_users,
                count(*) AS n_events,
                floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50,
                floor((quantile_cont(value, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90,
                floor((quantile_cont(value, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99,
                floor((stddev_samp(value)) * 10000.0 + 0.5) / 10000.0 AS value_stddev,
                floor((min(value)) * 100.0 + 0.5) / 100.0 AS value_min,
                floor((max(value)) * 100.0 + 0.5) / 100.0 AS value_max
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "tpch_scalar_aggregates": """
            SELECT * FROM (
                SELECT floor((100.0 *
                    sum(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                    / sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5)
                    / 10000.0 AS promo_revenue_pct
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-07-01'
            ), (
                WITH pa AS (
                    SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_floor
                    FROM lineitem GROUP BY 1
                )
                SELECT floor((sum(l_extendedprice) / 7.0) * 100.0 + 0.5) / 100.0
                    AS avg_yearly_small_qty_revenue
                FROM lineitem JOIN pa USING (l_partkey)
                WHERE l_quantity < qty_floor
            ), (
                SELECT CAST(count(*) AS BIGINT) AS n_lines,
                    floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5)
                        / 100.0 AS disc_revenue
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                       AND l_quantity BETWEEN 1 AND 20)
                   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
                       AND l_quantity BETWEEN 10 AND 35)
                   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
                       AND l_quantity BETWEEN 20 AND 50)
            )
        """,
        "tpch_order_analytics": """
            SELECT 'q18_large_orders' AS branch, c_name AS dim1,
                CAST(NULL AS VARCHAR) AS dim2,
                CAST(o_orderkey AS BIGINT) AS k,
                total_price AS val1, total_qty AS val2
            FROM (
                WITH big AS (
                    SELECT l_orderkey,
                        floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS total_qty
                    FROM lineitem GROUP BY 1
                    HAVING floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 > 150.0
                )
                SELECT c_name, o_orderkey, o_totalprice AS total_price, total_qty
                FROM big
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                ORDER BY total_price DESC, o_orderkey ASC
                LIMIT 20
            )
            UNION ALL
            SELECT 'q7_nation_trade' AS branch, supp_nation AS dim1,
                cust_nation AS dim2, ship_year AS k,
                revenue AS val1, CAST(NULL AS DOUBLE) AS val2
            FROM (
                SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                    floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5)
                        / 100.0 AS revenue
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                WHERE n1.n_name <> n2.n_name
                GROUP BY 1, 2, 3
                ORDER BY revenue DESC, supp_nation, cust_nation, ship_year
                LIMIT 25
            )
            UNION ALL
            SELECT 'q8_market_share' AS branch, CAST(NULL AS VARCHAR) AS dim1,
                CAST(NULL AS VARCHAR) AS dim2, CAST(o_year AS BIGINT) AS k,
                mkt_share AS val1, CAST(NULL AS DOUBLE) AS val2
            FROM (
                SELECT year(l_shipdate) AS o_year,
                    floor((sum(CASE WHEN n1.n_name = 'BRAZIL'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                        / sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5)
                        / 10000.0 AS mkt_share
                FROM lineitem
                JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'AMERICA'
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                GROUP BY 1
            )
            UNION ALL
            SELECT 'q9_product_profit' AS branch, nation AS dim1,
                CAST(NULL AS VARCHAR) AS dim2, CAST(o_year AS BIGINT) AS k,
                profit AS val1, CAST(NULL AS DOUBLE) AS val2
            FROM (
                SELECT n_name AS nation, year(l_shipdate) AS o_year,
                    floor(sum(l_extendedprice * (1 - l_discount)
                        - 0.1 * p_retailprice * l_quantity) * 100.0 + 0.5)
                        / 100.0 AS profit
                FROM lineitem
                JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                GROUP BY 1, 2
            )
            UNION ALL
            SELECT 'q12_priority_modes' AS branch, line_class AS dim1,
                CAST(NULL AS VARCHAR) AS dim2, CAST(NULL AS BIGINT) AS k,
                CAST(high_line_count AS DOUBLE) AS val1,
                CAST(low_line_count AS DOUBLE) AS val2
            FROM (
                SELECT l_returnflag AS line_class,
                    sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS high_line_count,
                    sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS low_line_count
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_returnflag IN ('A', 'R')
                  AND l_shipdate >= '1995-01-01' AND l_shipdate < '1997-01-01'
                GROUP BY 1
            )
            UNION ALL
            SELECT 'q15_top_supplier' AS branch, s_name AS dim1,
                CAST(NULL AS VARCHAR) AS dim2, CAST(s_suppkey AS BIGINT) AS k,
                total_revenue AS val1, CAST(NULL AS DOUBLE) AS val2
            FROM (
                WITH rev AS (
                    SELECT l_suppkey,
                        floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5)
                            / 100.0 AS total_revenue
                    FROM lineitem
                    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
                    GROUP BY 1
                )
                SELECT s_suppkey, s_name, total_revenue
                FROM rev JOIN supplier ON l_suppkey = s_suppkey
                WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
            )
            UNION ALL
            SELECT 'q16_supplier_counts' AS branch, p_brand AS dim1,
                p_type AS dim2, CAST(p_size AS BIGINT) AS k,
                CAST(supplier_cnt AS DOUBLE) AS val1, CAST(NULL AS DOUBLE) AS val2
            FROM (
                SELECT p_brand, p_type, p_size,
                    count(DISTINCT suppkey) AS supplier_cnt
                FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS suppkey
                      FROM lineitem)
                JOIN part ON pk = p_partkey
                WHERE p_brand <> 'Brand#45'
                  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
                GROUP BY 1, 2, 3
            )
        """,
        "tpch_quantified_counts": """
            SELECT 'q21_waiting_suppliers' AS branch,
                CAST(l_suppkey AS BIGINT) AS k, CAST(numwait AS BIGINT) AS n
            FROM (
                WITH j AS (
                    SELECT l_orderkey, l_suppkey,
                        CAST(l_shipdate > o_orderdate + INTERVAL 90 DAY AS INTEGER)
                            AS late
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                ),
                per_supp AS (
                    SELECT l_orderkey, l_suppkey, max(late) AS supp_late
                    FROM j GROUP BY 1, 2
                ),
                per_order AS (
                    SELECT l_orderkey, count(*) AS n_supp,
                        sum(supp_late) AS n_late_supp
                    FROM per_supp GROUP BY 1
                )
                SELECT l_suppkey, count(*) AS numwait
                FROM per_supp JOIN per_order USING (l_orderkey)
                WHERE supp_late = 1 AND n_supp > 1 AND n_late_supp = 1
                GROUP BY 1
                ORDER BY numwait DESC, l_suppkey ASC
                LIMIT 20
            )
            UNION ALL
            SELECT 'q13_order_counts' AS branch,
                CAST(n_orders AS BIGINT) AS k, CAST(n_customers AS BIGINT) AS n
            FROM (
                WITH per_cust AS (
                    SELECT c_custkey, count(o_orderkey) AS n_orders
                    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                    GROUP BY 1
                )
                SELECT n_orders, count(*) AS n_customers
                FROM per_cust GROUP BY 1
            )
            UNION ALL
            SELECT 'q20_dominant_suppliers' AS branch,
                CAST(l_suppkey AS BIGINT) AS k, CAST(n_parts AS BIGINT) AS n
            FROM (
                WITH ps AS (
                    SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
                    FROM lineitem
                    WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
                    GROUP BY 1, 2
                ),
                p AS (SELECT l_partkey, sum(sq) AS pq FROM ps GROUP BY 1)
                SELECT l_suppkey, count(*) AS n_parts
                FROM ps JOIN p USING (l_partkey)
                WHERE sq > 0.5 * pq GROUP BY 1
            )
        """,
        "tpch_segment_rollups": """
            SELECT 'q22_idle_rich' AS branch, c_mktsegment,
                CAST(n_customers AS DOUBLE) AS metric_a,
                total_balance AS metric_b
            FROM (
                WITH avg_bal AS (
                    SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
                ),
                active AS (
                    SELECT o_custkey FROM orders GROUP BY 1 HAVING count(*) > 5
                )
                SELECT c_mktsegment, count(*) AS n_customers,
                    floor(sum(c_acctbal) * 100.0 + 0.5) / 100.0 AS total_balance
                FROM customer, avg_bal
                WHERE c_acctbal > a
                  AND c_custkey NOT IN (SELECT o_custkey FROM active)
                GROUP BY 1
            )
            UNION ALL
            SELECT 'q11_revenue_share' AS branch, c_mktsegment,
                segment_value AS metric_a, share AS metric_b
            FROM (
                WITH j AS (
                    SELECT o_totalprice, c_mktsegment
                    FROM orders JOIN customer ON o_custkey = c_custkey
                ),
                seg AS (
                    SELECT c_mktsegment, sum(o_totalprice) AS seg_value FROM j
                    GROUP BY 1
                ),
                tot AS (SELECT sum(o_totalprice) AS total FROM j)
                SELECT c_mktsegment,
                    floor(seg_value * 100.0 + 0.5) / 100.0 AS segment_value,
                    floor((seg_value / total) * 10000.0 + 0.5) / 10000.0 AS share
                FROM seg, tot
                WHERE seg_value > 0.05 * total
            )
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
                floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
                floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0 AS sum_charge,
                floor((avg(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
                floor((avg(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
                floor((avg(l_discount)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
                count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue_orders": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_regional_revenue": """
            SELECT r_name, n_name,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
                count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_price,
                count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
        "window_running_totals": """
            SELECT user_id, event_id,
                floor((sum(value) OVER w) * 100.0 + 0.5) / 100.0 AS running_value,
                row_number() OVER (
                    PARTITION BY user_id ORDER BY event_id
                ) AS event_seq,
                epoch_ms(ts) - epoch_ms(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY event_id
                )) AS ms_since_prev,
                epoch_ms(lead(ts) OVER (
                    PARTITION BY user_id ORDER BY event_id
                )) - epoch_ms(ts) AS ms_until_next
            FROM events
            WINDOW w AS (
                PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        """,
        "topk_users": """
            WITH top20 AS (
                SELECT user_id,
                    floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value,
                    count(*) AS n_events
                FROM events
                GROUP BY user_id
                ORDER BY total_value DESC, user_id ASC
                LIMIT 20
            )
            SELECT user_id, total_value, n_events, 'plain' AS method FROM top20
            UNION ALL
            SELECT user_id, total_value, n_events, 'salted' AS method FROM top20
        """,
        "setop_customer_activity": """
            WITH oc AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
            eu AS (SELECT DISTINCT user_id AS custkey FROM events)
            SELECT custkey, 'no_events' AS cls FROM oc
            WHERE custkey NOT IN (SELECT custkey FROM eu)
            UNION ALL
            SELECT custkey, 'active' AS cls FROM oc
            WHERE custkey IN (SELECT custkey FROM eu)
        """,
        "q6_forecast_revenue": """
            SELECT
                floor((sum(l_extendedprice * l_discount)) * 100.0 + 0.5) / 100.0 AS revenue,
                count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.02 AND l_discount <= 0.04
              AND l_quantity < 24
        """,
        "q4_late_shipment_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "q2_top_supplier_per_nation": """
            SELECT n_name, s_suppkey, s_name, s_acctbal
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            QUALIFY row_number() OVER (
                PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey ASC
            ) = 1
            ORDER BY n_name
        """,
        "q10_returned_item_revenue": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "array_functions": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS w FROM documents)
            SELECT doc_id,
                len(w) AS n_tokens,
                len(list_distinct(w)) AS n_distinct,
                array_to_string(list_sort(w)[1:3], ' ') AS first3_sorted,
                CAST(list_contains(w, 'the') AS INTEGER) AS has_the,
                w[1] AS first_token,
                w[-1] AS last_token
            FROM toks
        """,
        "asof_prev_purchase": """
            WITH merged AS (
                SELECT user_id, event_id, ts,
                    CAST(NULL AS BIGINT) AS purchase_id, 0 AS is_build
                FROM events
                UNION ALL
                SELECT user_id, CAST(NULL AS BIGINT) AS event_id, ts,
                    event_id AS purchase_id, 1 AS is_build
                FROM events WHERE event_type = 'purchase'
            )
            SELECT user_id, event_id,
                last_value(purchase_id IGNORE NULLS) OVER (
                    PARTITION BY user_id
                    ORDER BY ts ASC, is_build DESC,
                        purchase_id ASC NULLS LAST, event_id ASC NULLS LAST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS asof_purchase_id
            FROM merged
            QUALIFY is_build = 0
            ORDER BY event_id
        """,
        "range_join_events_after_signup": """
            WITH signups AS (
                SELECT user_id AS s_user, event_id AS signup_id, ts AS signup_ts
                FROM events WHERE event_type = 'signup'
            )
            SELECT signup_id,
                count(*) AS n_events,
                floor((sum(value)) * 100.0 + 0.5) / 100.0 AS window_value
            FROM events
            JOIN signups ON user_id = s_user
                AND ts >= signup_ts
                AND ts < signup_ts + INTERVAL 7 DAY
            GROUP BY signup_id
            ORDER BY signup_id
        """,
        "sessionize_events": """
            WITH gi AS (
                SELECT user_id, event_id, ts, value,
                    CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                         THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            gi_sess AS (
                SELECT *,
                    sum(is_new) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS sid
                FROM gi
            ),
            nat AS (
                SELECT user_id, event_id, ts, value,
                    CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
                         THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            nat_sess AS (
                SELECT *,
                    sum(is_new) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS sid
                FROM nat
            )
            SELECT 'islands' AS method, user_id,
                min(ts) AS session_start,
                max(ts) AS session_end,
                count(*) AS n_events,
                floor((sum(value)) * 100.0 + 0.5) / 100.0 AS session_value
            FROM gi_sess GROUP BY user_id, sid
            UNION ALL
            SELECT 'native' AS method, user_id,
                min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events,
                floor((sum(value)) * 100.0 + 0.5) / 100.0 AS session_value
            FROM nat_sess GROUP BY user_id, sid
        """,
        "tumbling_window_counts": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                event_type,
                count(*) AS n_events,
                floor((sum(value)) * 100.0 + 0.5) / 100.0 AS window_value
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "text_analysis": f"""
            WITH docs AS (
                SELECT doc_id, {PII_ENRICH_SQL} AS text, lang, source, n_chars
                FROM documents
            ),
            base AS (
                SELECT *,
                    regexp_split_to_array(trim(text), '\\s+') AS toks,
                    regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks,
                    list_filter(string_split(text, chr(10)),
                        l -> length(trim(l)) > 0) AS lines,
                    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        t -> t IN {STOPWORDS_SQL}))
                      / greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1)
                      AS stop_r,
                    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                      / greatest(length(text), 1) AS punct_r
                FROM docs
            ),
            langed AS (
                SELECT *,
                    {_LANG_RATIO_COLS_SQL}
                FROM base
            )
            SELECT doc_id, text, lang, source, n_chars,
                len(toks) AS n_tokens,
                len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_bpe_tokens,
                floor((stop_r) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
                floor((punct_r) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
                floor((0.5 * least(length(text) / 500.0, 1.0)
                    + 0.3 * least(stop_r * 4.0, 1.0)
                    + 0.2 * (1.0 - least(punct_r * 5.0, 1.0))) * 10000.0 + 0.5) / 10000.0 AS quality,
                {_LANG_PICK_SQL} AS lang_pred,
                md5({NORM}) AS fingerprint,
                floor((CASE WHEN len(ltoks) > 0
                    THEN 1.0 - len(list_distinct(ltoks)) / len(ltoks)
                    ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS word_rep_ratio,
                floor((CASE WHEN len(lines) > 0
                    THEN 1.0 - len(list_distinct(lines)) / len(lines)
                    ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS line_dup_frac,
                floor((coalesce(list_sum(list_transform(
                        list_filter(lines, l -> len(list_filter(lines, y -> y = l)) > 1),
                        x -> length(x))), 0)
                    / greatest(coalesce(list_sum(list_transform(lines, x -> length(x))), 0), 1)
                    ) * 10000.0 + 0.5) / 10000.0 AS dup_line_char_frac,
                {_PII_COUNTS_SQL}
            FROM langed
        """,
        "text_corpus_stats": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS w FROM documents),
            grams AS (
                SELECT doc_id,
                    list_distinct(list_transform(
                        range(0, greatest(len(w) - 3, 0) + 1),
                        i -> array_to_string(w[i+1:i+3], ' ')
                    )) AS g
                FROM toks
            ),
            ex AS (SELECT doc_id, unnest(g) AS ngram FROM grams),
            ngram_top AS (
                SELECT ngram, count(*) AS doc_freq
                FROM ex GROUP BY 1
                ORDER BY doc_freq DESC, ngram ASC
                LIMIT 20
            ),
            base AS (
                SELECT text,
                    CASE WHEN trim(text) = '' THEN []
                         ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                    END AS ltoks,
                    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        t -> t IN {STOPWORDS_SQL}))
                      / greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1)
                      AS stop_r,
                    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                      / greatest(length(text), 1) AS punct_r
                FROM documents
            ),
            langed AS (
                SELECT *,
                    {_LANG_RATIO_COLS_SQL}
                FROM base
            ),
            scored AS (
                SELECT
                    {_LANG_PICK_SQL} AS lang_pred,
                    floor((stop_r) * 10000.0 + 0.5) / 10000.0 AS stop_rounded,
                    floor((0.5 * least(length(text) / 500.0, 1.0)
                        + 0.3 * least(stop_r * 4.0, 1.0)
                        + 0.2 * (1.0 - least(punct_r * 5.0, 1.0))) * 10000.0 + 0.5) / 10000.0 AS quality
                FROM langed
            ),
            quality_rollup AS (
                SELECT lang_pred,
                    count(*) AS n_docs,
                    floor((avg(quality)) * 10000.0 + 0.5) / 10000.0 AS avg_quality,
                    floor((avg(stop_rounded)) * 10000.0 + 0.5) / 10000.0 AS avg_stopword_ratio
                FROM scored
                WHERE quality >= 0.5
                GROUP BY lang_pred
            ),
            wrapped AS (
                SELECT doc_id, text, html,
                    trim(regexp_replace(
                        replace(replace(replace(replace(replace(replace(
                            regexp_replace(
                                regexp_replace(
                                    regexp_replace(html,
                                        '<script\\b.*?</script\\s*>|<style\\b.*?</style\\s*>',
                                        ' ', 'gis'),
                                    '<!--.*?-->', ' ', 'gs'),
                                '<[^>]*>', ' ', 'gs'),
                        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                        '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                    '\\s+', ' ', 'g')) AS extracted
                FROM (
                    SELECT doc_id, text,
                        '<html><head><title>doc</title><style type="text/css">p {{ color: red; }}</style></head><body><!-- boilerplate --><script>var x = "<p>not text</p>";</script><p>'
                        || text ||
                        '</p><div>&amp;joined &lt;b&gt; &quot;q&quot; &#39;s&#39; one&nbsp;two</div></body></html>'
                        AS html
                    FROM documents
                )
            )
            SELECT 'top_ngrams' AS branch, ngram AS key,
                CAST(doc_freq AS BIGINT) AS n,
                CAST(NULL AS DOUBLE) AS metric_a, CAST(NULL AS DOUBLE) AS metric_b
            FROM ngram_top
            UNION ALL
            SELECT 'quality_filter' AS branch, lang_pred AS key,
                CAST(n_docs AS BIGINT) AS n,
                avg_quality AS metric_a, avg_stopword_ratio AS metric_b
            FROM quality_rollup
            UNION ALL
            SELECT 'url_domains' AS branch, domain AS key,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT host) AS DOUBLE) AS metric_a,
                CAST(count(DISTINCT canonical) AS DOUBLE) AS metric_b
            FROM (
                SELECT
                    nullif(CASE WHEN three <> '' THEN three ELSE two END, '') AS domain,
                    host, canonical
                FROM (
                    SELECT host,
                        coalesce(regexp_extract(host, '{_URL_THREE_RE}', 1), '') AS three,
                        coalesce(regexp_extract(host, '([^.]+\\.[^.]+)$', 1), '') AS two,
                        canonical
                    FROM (
                        SELECT
                            lower(nullif(regexp_extract(url, '{_URL_HOST_RE}', 1), '')) AS host,
                            regexp_replace(regexp_replace(regexp_replace(
                                regexp_replace(
                                    regexp_replace(url, '#.*$', '', 'g'),
                                    '{_URL_TRACKING_RE}', '\\1', 'g'),
                                '\\?&+', '?', 'g'), '&&+', '&', 'g'),
                                '[?&]+$', '', 'g') AS canonical
                        FROM (
                            SELECT CASE WHEN doc_id % 11 = 0
                                THEN '/relative/path/' || CAST(doc_id AS VARCHAR)
                                ELSE 'https://' ||
                                    CASE WHEN doc_id % 3 = 0 THEN 'user:pw@' ELSE '' END ||
                                    CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'sub.' END ||
                                    'site' || CAST(doc_id % 7 AS VARCHAR) ||
                                    CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END ||
                                    '/p/' || CAST(doc_id % 13 AS VARCHAR) ||
                                    '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) ||
                                    '&utm_campaign=x#frag'
                                END AS url
                            FROM documents
                        )
                    )
                )
            ) GROUP BY domain
            UNION ALL
            SELECT 'domain_cap' AS branch, domain AS key,
                CAST(count(*) FILTER (rk <= 50) AS BIGINT) AS n,
                CAST(sum(doc_id) FILTER (rk <= 50) AS DOUBLE) AS metric_a,
                CAST(count(*) AS DOUBLE) AS metric_b
            FROM (
                SELECT doc_id, domain, row_number() OVER (
                    PARTITION BY domain
                    ORDER BY md5('domain_cap:' || CAST(doc_id AS VARCHAR)), doc_id
                ) AS rk
                FROM (
                    SELECT doc_id,
                        nullif(CASE WHEN three <> '' THEN three ELSE two END, '') AS domain
                    FROM (
                        SELECT doc_id,
                            coalesce(regexp_extract(host, '{_URL_THREE_RE}', 1), '') AS three,
                            coalesce(regexp_extract(host, '([^.]+\\.[^.]+)$', 1), '') AS two
                        FROM (
                            SELECT doc_id,
                                lower(nullif(regexp_extract(
                                    CASE WHEN doc_id % 11 = 0
                                    THEN '/relative/path/' || CAST(doc_id AS VARCHAR)
                                    ELSE 'https://' ||
                                        CASE WHEN doc_id % 3 = 0 THEN 'user:pw@' ELSE '' END ||
                                        CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'sub.' END ||
                                        'site' || CAST(doc_id % 7 AS VARCHAR) ||
                                        CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END ||
                                        '/p/' || CAST(doc_id % 13 AS VARCHAR) ||
                                        '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) ||
                                        '&utm_campaign=x#frag'
                                    END, '{_URL_HOST_RE}', 1), '')) AS host
                            FROM documents
                        )
                    )
                )
            ) GROUP BY domain
            UNION ALL
            SELECT 'html_extract' AS branch, CAST(doc_id AS VARCHAR) AS key,
                CAST(length(extracted) AS BIGINT) AS n,
                CASE WHEN extracted =
                    trim(regexp_replace(text, '\\s+', ' ', 'g'))
                        || ' &joined <b> "q" ''s'' one two'
                    THEN 1.0 ELSE 0.0 END AS metric_a,
                CAST(NULL AS DOUBLE) AS metric_b
            FROM wrapped
            UNION ALL
            SELECT 'warc_ingest' AS branch, CAST(doc_id AS VARCHAR) AS key,
                CAST(length(extracted) AS BIGINT) AS n,
                CAST(strlen(html) AS DOUBLE) AS metric_a,
                200.0 AS metric_b
            FROM wrapped
            UNION ALL
            SELECT 'quality_clf' AS branch, CAST(doc_id AS VARCHAR) AS key,
                CAST(len(qc_rtoks) AS BIGINT) AS n,
                floor(qc_s * 10000.0 + 0.5) / 10000.0 AS metric_a,
                CASE WHEN qc_s >= 0.5 THEN 1.0 ELSE 0.0 END AS metric_b
            FROM (
                SELECT doc_id, qc_rtoks,
                    1.0 / (1.0 + exp(-list_sum(list_transform(
                        range(0, 21),
                        i -> qc_f[i + 1] * ({_QCLF_W_SQL})[i + 1]
                    )))) AS qc_s
                FROM (
                    SELECT doc_id, qc_rtoks,
                        list_concat(
                            [1.0,
                             least(length(text) / 500.0, 1.0),
                             len(list_filter(qc_toks, t -> t IN {STOPWORDS_SQL}))
                                / greatest(len(qc_toks), 1),
                             (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                                / greatest(length(text), 1),
                             least(list_sum(list_transform(qc_rtoks, t -> length(t)))
                                / greatest(len(qc_rtoks), 1), 20.0) / 20.0],
                            list_transform(range(0, 16), j ->
                                CAST(len(list_filter(
                                    list_transform(qc_toks, t ->
                                        CAST('0x' || substr(md5(t), 1, 4) AS INTEGER) % 16),
                                    h -> h = j)) AS DOUBLE)
                                / greatest(len(qc_toks), 1))
                        ) AS qc_f
                    FROM (
                        SELECT doc_id, text,
                            regexp_split_to_array(trim(lower(text)), '\\s+') AS qc_toks,
                            regexp_split_to_array(trim(text), '\\s+') AS qc_rtoks
                        FROM documents
                    )
                )
            )
        """ + _link_rank_oracle_sql() + _ppl_oracle_sql() + _drift_oracle_sql()
        + _dsir_oracle_sql() + _wsample_oracle_sql() + _pr_curve_oracle_sql(),
        "dedup_exact": f"""
            SELECT 'doc' AS branch, content_hash, keep_id, n_dups FROM (
            WITH {EXACT_CORPUS_CTE}
            SELECT md5({NORM}) AS content_hash,
                min(doc_id) AS keep_id,
                count(*) AS n_dups
            FROM corpus GROUP BY 1
            )
            UNION ALL
            SELECT 'para' AS branch, para_hash AS content_hash,
                keep_id, n_dups FROM (
            WITH pd AS (
                SELECT doc_id,
                    text || chr(10) || 'Subscribe to our newsletter today'
                    || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || 'All rights reserved' ELSE '' END
                    AS text
                FROM documents
            ),
            split AS (
                SELECT doc_id, str_split(text, chr(10)) AS parts FROM pd
            ),
            paras AS (
                SELECT doc_id,
                    unnest(list_transform(range(1, len(parts) + 1),
                        i -> struct_pack(idx := i - 1, para := parts[i]))) AS u
                FROM split
            ),
            occ AS (
                SELECT doc_id, CAST(u.idx AS INTEGER) AS para_idx,
                    md5(trim(regexp_replace(lower(u.para), '\\s+', ' ', 'g')))
                        AS para_hash
                FROM paras WHERE trim(u.para) <> ''
            ),
            ranked AS (
                SELECT para_hash, doc_id,
                    row_number() OVER (
                        PARTITION BY para_hash ORDER BY doc_id, para_idx
                    ) AS rn,
                    count(*) OVER (PARTITION BY para_hash) AS n_dups
                FROM occ
            )
            SELECT para_hash, doc_id AS keep_id, n_dups
            FROM ranked WHERE rn = 1
            )
            UNION ALL
            SELECT 'span' AS branch,
                CAST(span_start AS VARCHAR) || ':' || CAST(span_end AS VARCHAR)
                    AS content_hash,
                doc_id AS keep_id, n_grams AS n_dups
            FROM (
            WITH pd2 AS (
                SELECT doc_id,
                    text || chr(10) || 'Subscribe to our newsletter today'
                    || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || 'All rights reserved' ELSE '' END
                    AS text
                FROM documents
            ),
            sp_toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                FROM pd2
            ),
            sp_grams AS (
                SELECT doc_id, i AS start,
                    md5(lower(array_to_string(w[i+1:i+4], ' '))) AS h
                FROM sp_toks, unnest(range(0, greatest(len(w) - 4, -1) + 1)) AS t(i)
                WHERE len(w) >= 4
            ),
            sp_rep AS (SELECT h FROM sp_grams GROUP BY h HAVING count(*) >= 2),
            sp_hits AS (
                SELECT doc_id, start, start + 4 AS fin FROM sp_grams
                WHERE h IN (SELECT h FROM sp_rep)
            ),
            sp_brk AS (
                SELECT doc_id, start, fin,
                    CASE WHEN start > coalesce(max(fin) OVER (
                        PARTITION BY doc_id ORDER BY start, fin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) THEN 1 ELSE 0 END AS is_new
                FROM sp_hits
            ),
            sp_isl AS (
                SELECT doc_id, start, fin,
                    sum(is_new) OVER (
                        PARTITION BY doc_id ORDER BY start, fin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS island
                FROM sp_brk
            )
            SELECT doc_id, min(start) AS span_start, max(fin) AS span_end,
                count(*) AS n_grams
            FROM sp_isl GROUP BY doc_id, island
            )
        """,
        "dedup_candidate_pairs": f"""
            SELECT 'jaccard' AS method, id1, id2, jaccard FROM (
            WITH {CORPUS_CTE},
            toks AS (SELECT doc_id, {TOKS} AS w FROM corpus),
            sh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM toks),
            ex0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            freq AS (SELECT shingle, count(*) AS df_cnt FROM ex0 GROUP BY 1),
            ex AS (
                SELECT ex0.doc_id, ex0.shingle FROM ex0
                JOIN freq USING (shingle)
                WHERE df_cnt <= ceil(0.2 * (SELECT count(*) FROM corpus))
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
                FROM ex a JOIN ex b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id1, id2,
                floor((n_inter / (s1.n_sh + s2.n_sh - n_inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE floor((n_inter / (s1.n_sh + s2.n_sh - n_inter)) * 10000.0 + 0.5) / 10000.0 >= 0.7
            )
            UNION ALL
            SELECT 'lsh' AS method, id1, id2, CAST(NULL AS DOUBLE) AS jaccard FROM (
            WITH {CORPUS_CTE},
            toks AS (SELECT doc_id, {TOKS} AS w FROM corpus),
            sh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM toks),
            sig AS (
                SELECT doc_id,
                    list_transform(range(0, 16), j ->
                        list_min(list_transform(s, x ->
                            md5(CAST(j AS VARCHAR) || ':' || x)))
                    ) AS sg
                FROM sh
            ),
            bands AS (
                SELECT doc_id, b AS band_id,
                    md5(array_to_string(sg[b*4+1 : b*4+4], '|')) AS band_hash
                FROM sig, (SELECT unnest(range(0, 4)) AS b)
            )
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM bands a JOIN bands b
              ON a.band_hash = b.band_hash AND a.band_id = b.band_id
             AND a.doc_id < b.doc_id
            )
            UNION ALL
            SELECT 'decontam' AS method, id1, id2, jaccard FROM (
            WITH bench AS (
                SELECT doc_id + 900000 AS doc_id,
                       regexp_replace(text, '\\s+\\S+\\s*$', '') AS text
                FROM documents WHERE doc_id % 20 = 4
                UNION ALL
                SELECT doc_id + 950000 AS doc_id,
                       array_to_string(list_transform(range(0, 5),
                           i -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))), ' ') AS text
                FROM documents WHERE doc_id % 20 = 14
            ),
            c_toks AS (SELECT doc_id, {TOKS} AS w FROM documents),
            c_sh AS (SELECT doc_id AS corpus_id, unnest({SHINGLES_SQL}) AS shingle
                     FROM c_toks),
            b_toks AS (SELECT doc_id, {TOKS} AS w FROM bench),
            b_sh AS (SELECT doc_id AS bench_id, unnest({SHINGLES_SQL}) AS shingle
                     FROM b_toks),
            b_sizes AS (SELECT bench_id, count(*) AS n_sh FROM b_sh GROUP BY 1),
            inter AS (
                SELECT corpus_id, bench_id, count(*) AS n_overlap
                FROM c_sh JOIN b_sh USING (shingle)
                GROUP BY 1, 2
            )
            SELECT corpus_id AS id1, bench_id AS id2,
                floor((n_overlap / n_sh) * 10000.0 + 0.5) / 10000.0 AS jaccard
            FROM inter JOIN b_sizes USING (bench_id)
            WHERE floor((n_overlap / n_sh) * 10000.0 + 0.5) / 10000.0 >= 0.5
            )
            UNION ALL
            SELECT 'decontam_near' AS method, id1, id2, jaccard FROM (
            WITH nbench AS (
                SELECT doc_id + 970000 AS doc_id,
                       regexp_replace(
                           regexp_replace(text, '\\s+\\S+\\s*$', ''),
                           '^\\s*\\S+', 'paraphrased') AS text
                FROM documents WHERE doc_id % 20 = 9
                UNION ALL
                SELECT doc_id + 980000 AS doc_id,
                       array_to_string(list_transform(range(0, 5),
                           i -> md5(CAST(doc_id AS VARCHAR) || ';' || CAST(i AS VARCHAR))), ' ') AS text
                FROM documents WHERE doc_id % 20 = 19
            ),
            nc_toks AS (SELECT doc_id, {TOKS} AS w FROM documents),
            nc_sh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM nc_toks),
            nb_toks AS (SELECT doc_id, {TOKS} AS w FROM nbench),
            nb_sh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM nb_toks),
            nc_bands AS (
                SELECT doc_id, b AS band_id,
                    md5(array_to_string(sg[b*4+1 : b*4+4], '|')) AS band_hash
                FROM (
                    SELECT doc_id,
                        list_transform(range(0, 16), j ->
                            list_min(list_transform(s, x ->
                                md5(CAST(j AS VARCHAR) || ':' || x)))
                        ) AS sg
                    FROM nc_sh
                ), (SELECT unnest(range(0, 4)) AS b)
            ),
            nb_bands AS (
                SELECT doc_id, b AS band_id,
                    md5(array_to_string(sg[b*4+1 : b*4+4], '|')) AS band_hash
                FROM (
                    SELECT doc_id,
                        list_transform(range(0, 16), j ->
                            list_min(list_transform(s, x ->
                                md5(CAST(j AS VARCHAR) || ':' || x)))
                        ) AS sg
                    FROM nb_sh
                ), (SELECT unnest(range(0, 4)) AS b)
            ),
            ncands AS (
                SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS bench_id
                FROM nc_bands c JOIN nb_bands b
                  ON c.band_id = b.band_id AND c.band_hash = b.band_hash
            ),
            nc_ex AS (
                SELECT doc_id AS corpus_id, unnest(s) AS shingle FROM nc_sh
                WHERE doc_id IN (SELECT corpus_id FROM ncands)
            ),
            nb_ex AS (SELECT doc_id AS bench_id, unnest(s) AS shingle FROM nb_sh),
            nc_sizes AS (SELECT corpus_id, count(*) AS n_c FROM nc_ex GROUP BY 1),
            nb_sizes AS (SELECT bench_id, count(*) AS n_b FROM nb_ex GROUP BY 1),
            ninter AS (
                SELECT corpus_id, bench_id, count(*) AS n_inter
                FROM nc_ex JOIN nb_ex USING (shingle)
                GROUP BY 1, 2
            )
            SELECT corpus_id AS id1, bench_id AS id2,
                floor((n_inter / (n_c + n_b - n_inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
            FROM ninter
            JOIN ncands USING (corpus_id, bench_id)
            JOIN nc_sizes USING (corpus_id)
            JOIN nb_sizes USING (bench_id)
            WHERE floor((n_inter / (n_c + n_b - n_inter)) * 10000.0 + 0.5) / 10000.0 >= 0.5
            )
        """,
        "dedup_simhash": f"""
            WITH {CORPUS_CTE},
            toks AS (SELECT doc_id, {TOKS} AS w FROM corpus),
            th AS (
                SELECT doc_id,
                    list_transform(w, t ->
                        CAST(CAST('0x' || substr(md5(t), 1, 4) AS INTEGER) AS BIGINT)
                    ) AS hs
                FROM toks
            ),
            sims AS (
                SELECT doc_id,
                    CAST((
                        {" + ".join(
                            f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {1 << i} ELSE 0 END)"
                            for i in range(16)
                        )}
                    ) AS INTEGER) AS simhash
                FROM th
            ),
            blocks AS (
                SELECT doc_id, simhash,
                    unnest([
                        'lo:' || CAST(simhash % 256 AS VARCHAR),
                        'hi:' || CAST(simhash // 256 AS VARCHAR)
                    ]) AS block
                FROM sims
            )
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) AS hamming
            FROM blocks a JOIN blocks b
              ON a.block = b.block AND a.doc_id < b.doc_id
            WHERE bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) <= 3
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE corpus0 AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text
                FROM documents WHERE doc_id % 10 = 0
            ),
            cascade_corpus AS (
                SELECT doc_id, text FROM corpus0
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                    regexp_replace(text, '\\s+\\S+\\s*$', '') AS text
                FROM corpus0 WHERE doc_id % 10 = 0
            ),
            keep AS (
                SELECT min(doc_id) AS keep_id
                FROM cascade_corpus GROUP BY md5({NORM})
            ),
            surv AS (
                SELECT c.doc_id, c.text
                FROM cascade_corpus c JOIN keep k ON c.doc_id = k.keep_id
            ),
            toks AS (SELECT doc_id, {TOKS} AS w FROM surv),
            sh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM toks),
            sig AS (
                SELECT doc_id,
                    list_transform(range(0, 16), j ->
                        list_min(list_transform(s, x ->
                            md5(CAST(j AS VARCHAR) || ':' || x)))
                    ) AS sg
                FROM sh
            ),
            bands AS (
                SELECT doc_id, b AS band_id,
                    md5(array_to_string(sg[b*4+1 : b*4+4], '|')) AS band_hash
                FROM sig, (SELECT unnest(range(0, 4)) AS b)
            ),
            cands AS (
                SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                FROM bands a JOIN bands b
                  ON a.band_hash = b.band_hash AND a.band_id = b.band_id
                 AND a.doc_id < b.doc_id
            ),
            ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1),
            inter AS (
                SELECT c.id1, c.id2, count(*) AS n_inter
                FROM cands c
                JOIN ex a ON a.doc_id = c.id1
                JOIN ex b ON b.doc_id = c.id2 AND b.shingle = a.shingle
                GROUP BY 1, 2
            ),
            jpairs AS (
                SELECT id1, id2
                FROM inter
                JOIN sizes s1 ON s1.doc_id = id1
                JOIN sizes s2 ON s2.doc_id = id2
                WHERE floor((n_inter / (s1.n_sh + s2.n_sh - n_inter)) * 10000.0 + 0.5) / 10000.0 >= 0.8
            ),
            edges AS (
                SELECT id1 AS src, id2 AS dst FROM jpairs
                UNION ALL
                SELECT id2 AS src, id1 AS dst FROM jpairs
            ),
            reach(id, r) AS (
                SELECT doc_id, doc_id FROM surv
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
            ),
            mh AS (
                SELECT doc_id AS media_id,
                    CASE WHEN doc_id % 3 = 0 THEN 'image'
                         WHEN doc_id % 3 = 1 THEN 'audio'
                         ELSE 'video' END AS media_type,
                    xor(CAST(doc_id % 37 AS BIGINT) * 2654435761,
                        CAST(CASE WHEN doc_id % 5 = 0 THEN 3
                                  WHEN doc_id % 7 = 0 THEN 96
                                  ELSE 0 END AS BIGINT)) AS phash
                FROM documents
            ),
            mpairs AS (
                SELECT a.media_id AS id1, b.media_id AS id2
                FROM mh a JOIN mh b
                  ON a.media_type = b.media_type AND a.media_id < b.media_id
                WHERE bit_count(xor(a.phash, b.phash)) <= 6
            ),
            medges AS (
                SELECT id1 AS src, id2 AS dst FROM mpairs
                UNION ALL
                SELECT id2 AS src, id1 AS dst FROM mpairs
            ),
            mreach(id, r) AS (
                SELECT media_id, media_id FROM mh
                UNION
                SELECT mreach.id, e.dst FROM mreach JOIN medges e ON e.src = mreach.r
            )
            SELECT 'text' AS branch, id AS doc_id,
                min(r) AS cluster_id,
                CAST(id = min(r) AS INTEGER) AS is_canonical
            FROM reach GROUP BY id
            UNION ALL
            SELECT 'media' AS branch, id AS doc_id,
                min(r) AS cluster_id,
                CAST(id = min(r) AS INTEGER) AS is_canonical
            FROM mreach GROUP BY id
        """,
        "dedup_embedding_cosine": (
            """
            SELECT 'label' AS method, id1, id2, cosine FROM (
            WITH corpus AS (
                SELECT vec_id, embedding::DOUBLE[] AS vec, label FROM embeddings
                UNION ALL
                SELECT vec_id + 100000 AS vec_id,
                    list_transform(embedding::DOUBLE[], x -> x * 1.5) AS vec, label
                FROM embeddings WHERE vec_id % 20 = 0
            )
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                floor((list_dot_product(a.vec, b.vec)
                    / (sqrt(list_dot_product(a.vec, a.vec))
                       * sqrt(list_dot_product(b.vec, b.vec)))) * 10000.0 + 0.5) / 10000.0 AS cosine
            FROM corpus a JOIN corpus b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE floor((list_dot_product(a.vec, b.vec)
                    / (sqrt(list_dot_product(a.vec, a.vec))
                       * sqrt(list_dot_product(b.vec, b.vec)))) * 10000.0 + 0.5) / 10000.0 >= 0.999
            )
            UNION ALL
            SELECT 'kmeans' AS method, id1, id2, cosine FROM ("""
            + _semantic_oracle_sql()
            + """)
            UNION ALL
            SELECT 'decontam' AS method, id1, id2, cosine FROM ("""
            + _semantic_decontam_oracle_sql()
            + ")"
        ),
        "ann_topk": """
            SELECT 'brute' AS method, query_id, nbr_id, cosine AS score, rank FROM (
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
                FROM embeddings WHERE vec_id < 5
            ),
            scored AS (
                SELECT query_id, e.vec_id AS nbr_id,
                    floor((list_dot_product(qvec, e.embedding::DOUBLE[])
                        / (sqrt(list_dot_product(qvec, qvec))
                           * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))) * 10000.0 + 0.5) / 10000.0 AS cosine
                FROM q, embeddings e
                WHERE e.vec_id <> query_id
            ),
            ranked AS (
                SELECT query_id, nbr_id, cosine,
                    row_number() OVER (
                        PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC
                    ) AS rank
                FROM scored
            )
            SELECT query_id, nbr_id, cosine, rank FROM ranked WHERE rank <= 10
            )
            UNION ALL
            SELECT 'lsh' AS method, query_id, nbr_id, cosine AS score, rank FROM (
        """ + _lsh_oracle_sql() + """
            )
            UNION ALL
            SELECT 'bm25' AS method, query_id, nbr_id, score, rank FROM (
        """ + _bm25_oracle_sql() + """
            )
            UNION ALL
            SELECT 'pq' AS method, query_id, nbr_id, score, rank FROM (
        """ + _pq_oracle_sql() + """
            )
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                CAST(i AS INTEGER) AS pos,
                floor(CAST(CAST(
                    ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) / 255.0
                    AS FLOAT) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS val,
                CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
                CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height
            FROM documents CROSS JOIN range(0, 8) t(i)
        """,
        "multimodal_frame_plan": """
            SELECT doc_id AS media_id,
                'image' AS media_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS content_md5,
                unnest(range(0,
                    CAST(floor(octet_length(encode(text)) / 1024.0 + 1) AS INTEGER), 10)
                ) AS frame_idx
            FROM documents
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the sink's grouping+naming pipeline over sf0.001 (one row per
    output object with its rendered name, start offset, and record count)."""
    return q_sink_group_topic_partition(spark, "/root/testdata/sf0.001")
