"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in Column expressions (JVM, whole-stage codegen) —
no Python UDFs. Hash primitives use ``md5`` (identical semantics in DuckDB, so
every operator here is oracle-checkable).

Operators: token counting (whitespace + BPE-ish word/punct split), language ID
(binary stopword heuristic + the two-tier 30-language ``language_id_multi``),
quality scoring (length/punct/stopword ratios),
document fingerprinting (normalized md5 + rolling-shingle fingerprint),
PII redaction (ordered regex chain with per-type counts), and Gopher-style
repetition signals (word-rep ratio, duplicate-line fractions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from kafka_connector_s3_sink_spark.functions.numeric import stable_round

# Small deterministic English stopword list used by languge-ID and quality scoring.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

# BPE-ish tokenizer: runs of word chars OR single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# PII patterns, applied IN ORDER: each pattern is counted and redacted against
# the text with all earlier patterns already replaced, so one span is never
# attributed to two types (an email's host part can look like an IP; a credit
# card is replaced before the SSN pattern could see its fragments). Patterns
# deliberately use only portable constructs (character classes + bounded
# quantifiers) that behave identically under Java regex (Spark) and RE2
# (DuckDB), keeping the operator oracle-checkable.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cc", r"\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}", "<CC>"),
    ("id", r"\d{3}-\d{2}-\d{4}", "<ID>"),
    ("ip", r"(?:\d{1,3}\.){3}\d{1,3}", "<IP>"),
    ("phone", r"\+\d{9,15}", "<PHONE>"),
)


def redact_pii_columns(text: Column) -> dict[str, Column]:
    """Per-type PII match counts plus the fully redacted text.

    Returns ``{"n_pii_email": …, "n_pii_cc": …, "n_pii_id": …, "n_pii_ip": …,
    "n_pii_phone": …, "text_redacted": …}``. Counts are measured on the
    progressively-redacted text (exactly what the sequential ``regexp_replace``
    chain replaces at that step). All JVM-side ``regexp_count``/
    ``regexp_replace`` — the chain is ≤5 regexes deep, constant per-row work.
    """
    out: dict[str, Column] = {}
    cur = text
    for name, pat, token in PII_PATTERNS:
        out[f"n_pii_{name}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    out["text_redacted"] = cur
    return out


def tokens_column(text: Column) -> Column:
    """Whitespace tokenization (empty string → empty array)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens_column(text))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish tokens (word runs + individual punctuation)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def stopword_ratio(text: Column) -> Column:
    toks = tokens_column(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[.,!?;:]", "")
    return (F.length(text) - F.length(stripped)) / F.greatest(F.length(text), F.lit(1))


def mean_word_length(text: Column) -> Column:
    toks = tokens_column(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite quality in [0,1]: rewards mid-range length, low punctuation
    density, natural stopword ratio. Deterministic arithmetic only."""
    len_score = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    return stable_round(0.5 * len_score + 0.3 * stop_score + 0.2 * (1.0 - punct_penalty), 4)


# Per-language function-word profiles (high-frequency closed-class words,
# public linguistic knowledge). Deliberately DISJOINT: shared forms ('in',
# 'a', 'die', 'je', 'tak'…) are kept only under their most distinctive
# language to sharpen the argmax (a pytest pins pairwise disjointness);
# real corpora dominate these ratios by an order of magnitude over
# cross-language noise. 17 whitespace-tokenized (Latin/diacritic-script)
# languages — the CJK/Cyrillic/Arabic/Indic/… tier is script-ratio based
# (SCRIPT_RANGES below) because whitespace tokenization and closed-class
# word lists are the wrong tools there (zh/ja/th don't even delimit words).
LANGUAGE_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "for", "with", "was", "this"),
    "de": ("der", "und", "das", "nicht", "ist", "ein", "eine", "mit", "auf", "für"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "que", "pour", "pas"),
    "es": ("el", "los", "las", "una", "está", "por", "como", "pero", "más", "del"),
    "pt": ("não", "uma", "são", "também", "já", "você", "muito", "isso", "ela", "seu"),
    "it": ("il", "di", "che", "per", "sono", "questo", "anche", "ma", "gli", "della"),
    "nl": ("het", "een", "van", "niet", "zijn", "voor", "aan", "ook", "maar", "deze"),
    "sv": ("och", "att", "det", "som", "är", "inte", "jag", "på", "av", "till"),
    "da": ("og", "ikke", "jeg", "hvad", "hun", "han", "meget", "også", "hvor", "være"),
    "fi": ("ja", "on", "ei", "että", "mutta", "hän", "kun", "myös", "niin", "ovat"),
    "pl": ("się", "jest", "nie", "ale", "jak", "przez", "tylko", "już", "bardzo", "może"),
    "cs": ("že", "který", "jsem", "jsou", "také", "ještě", "byl", "podle", "své", "aby"),
    "tr": ("bir", "ve", "bu", "için", "ile", "olarak", "daha", "çok", "gibi", "ancak"),
    "ro": ("și", "este", "care", "sunt", "după", "dacă", "să", "fost", "unei", "această"),
    "id": ("yang", "dan", "dengan", "untuk", "tidak", "dari", "ini", "itu", "adalah", "pada"),
    "vi": ("và", "của", "là", "không", "các", "được", "trong", "người", "những", "này"),
    "hu": ("és", "nem", "hogy", "már", "csak", "mint", "meg", "volt", "ez", "azt"),
}

# Unicode-script codepoint ranges (public Unicode block boundaries) for the
# languages whose script IS the dominant signal. Ranges are written as
# literal-character classes (identical semantics under Java regex and RE2,
# keeping the DuckDB twin exact — \p{script=…} property syntax differs
# between the engines). Han is shared by zh and ja: kana presence decides;
# Cyrillic is shared by ru/uk/mk/sr/bg: alphabet-specific letters decide
# (CYRILLIC_REFINEMENTS below) — see language_id_multi.
SCRIPT_RANGES: dict[str, str] = {
    "zh": "\u4e00-\u9fff",              # CJK Unified Ideographs (Han)
    "ja": "\u3040-\u309f\u30a0-\u30ff",  # Hiragana + Katakana
    "ko": "\uac00-\ud7af\u1100-\u11ff",  # Hangul syllables + Jamo
    "ru": "\u0400-\u04ff",              # Cyrillic
    "ar": "\u0600-\u06ff\u0750-\u077f",  # Arabic + supplement
    "hi": "\u0900-\u097f",              # Devanagari
    "el": "\u0370-\u03ff",              # Greek
    "he": "\u0590-\u05ff",              # Hebrew
    "th": "\u0e00-\u0e7f",              # Thai
}

# Cyrillic-script refinement (r12, widened r13): the 'ru' range above covers
# the whole Cyrillic block, so Ukrainian/Macedonian/Serbian/Bulgarian text
# would otherwise be mislabeled 'ru' \u2014 a governance-relevant error once the
# mixture stage up-samples by detected language. Each entry is (code,
# marker_chars, absent_chars), applied IN ORDER to Cyrillic-dominant text:
#   - uk: \u0456/\u0457/\u0454/\u0491 exist in Ukrainian but in none of the other four;
#   - mk: \u0453/\u0455/\u045c are unique to Macedonian (\u045c via the very frequent
#     future marker \u045c\u0435); checked BEFORE sr because Macedonian also uses
#     \u0458/\u0459/\u045a/\u045f, which would match the Serbian row first;
#   - sr: \u0458/\u0459/\u045a/\u0452/\u045b/\u045f exist in Serbian (and \u0458/\u0459/\u045a/\u045f in
#     Macedonian, handled above) but not in Russian/Ukrainian/Bulgarian;
#     \u0458 alone is ~4-5% of Serbian running text. Marker-light Macedonian
#     (below the \u0453/\u0455/\u045c ratio) resolves here to 'sr' \u2014 the documented
#     residual conflation, the closest relative rather than 'ru';
#   - bg: \u044a is a frequent VOWEL letter in Bulgarian (~2-3% of running text)
#     but a rare silent sign in Russian, while \u044b/\u044d/\u0451 exist only in Russian \u2014
#     so "\u044a present AND \u044b/\u044d/\u0451 absent" discriminates bg from ru (Serbian
#     and Macedonian have no \u044a, so the later position is safe).
# Marker presence is a RATIO over the text's Cyrillic chars
# (\u2265 CYRILLIC_MARKER_MIN_RATIO), not bare presence, so one quoted foreign
# word inside a long Russian document cannot flip its label. Public alphabet
# facts; the Spark chain and the DuckDB twin both derive from this table.
CYRILLIC_REFINEMENTS: tuple[tuple[str, str, str], ...] = (
    ("uk", "\u0456\u0457\u0454\u0491\u0406\u0407\u0404\u0490", ""),
    ("mk", "\u0453\u0455\u045c\u0403\u0405\u040c", ""),
    ("sr", "\u0458\u0459\u045a\u0452\u045b\u045f\u0408\u0409\u040a\u0402\u040b\u040f", ""),
    ("bg", "\u044a\u042a", "\u044b\u044d\u0451\u042b\u042d\u0401"),
)

# Default thresholds of language_id_multi, named so the DuckDB oracle twin
# (__spark_entry__._lang_sql_chain) interpolates the SAME literals the Spark
# chain compares against \u2014 the engines cannot drift on a threshold edit.
LANG_MIN_RATIO = 0.06
SCRIPT_MIN_RATIO = 0.25
KANA_MIN_RATIO = 0.05
CYRILLIC_MARKER_MIN_RATIO = 0.01


def cyrillic_refined(text: Column) -> Column:
    """Resolve Cyrillic-dominant text to ru/uk/mk/sr/bg via
    ``CYRILLIC_REFINEMENTS``
    (marker-letter ratios over the text's Cyrillic chars; see the table's
    comment). Row-local regexp_count expressions only."""
    cyr = F.greatest(
        F.regexp_count(text, F.lit(f"[{SCRIPT_RANGES['ru']}]")), F.lit(1)
    )
    expr = None
    for code, markers, absent in CYRILLIC_REFINEMENTS:
        cond = (
            F.regexp_count(text, F.lit(f"[{markers}]")) / cyr
            >= CYRILLIC_MARKER_MIN_RATIO
        )
        if absent:
            cond = cond & (F.regexp_count(text, F.lit(f"[{absent}]")) == 0)
        branch = F.when(cond, F.lit(code))
        expr = branch if expr is None else expr.when(cond, F.lit(code))
    return expr.otherwise(F.lit("ru"))


def language_id_multi(
    text: Column,
    min_ratio: float = LANG_MIN_RATIO,
    script_min_ratio: float = SCRIPT_MIN_RATIO,
    kana_min_ratio: float = KANA_MIN_RATIO,
    ltoks: Column | None = None,
    hits: Column | None = None,
) -> Column:
    """Two-tier language ID over 30 languages, all row-local JVM expressions
    (no model file, no UDF — the oracle-portable shape).

    Tier 1 — SCRIPT: per-script character ratios (``SCRIPT_RANGES`` counts /
    non-whitespace chars). Kana at ``kana_min_ratio`` short-circuits to 'ja'
    FIRST (Japanese running text is Han-heavy but always carries kana — the
    one case where two languages share a dominant script), gated on the
    combined kana+Han ratio ALSO clearing ``script_min_ratio`` (r12) so a
    predominantly-Latin document with a short Japanese quote stays
    Latin-classified — the zh side never short-circuited, so the gate
    restores mixed-document symmetry. Otherwise the highest script ratio
    clearing ``script_min_ratio`` wins (deterministic alphabetical
    tiebreak, same struct-greatest trick as tier 2); a Cyrillic win then
    resolves ru/uk/mk/sr/bg through ``cyrillic_refined`` (the whole block
    would
    otherwise read 'ru').

    Tier 2 — FUNCTION WORDS: argmax over the per-language profile-word
    ratios for the 17 whitespace-tokenized languages, when the best ratio
    clears ``min_ratio``; ties break alphabetically; nothing clears →
    'und'. One tokenization feeds |languages| array-filter ratios and a
    ``greatest``-based argmax. Pass ``ltoks`` (a pre-materialized
    lowercased-token array, e.g. ``analyze``'s Generate-barriered
    ``_a.ltoks``) to reuse an existing tokenization instead of
    re-splitting.

    Known conflations (documented scope): Norwegian Bokmål shares its
    closed-class words with the ``da`` profile and is labeled 'da' — a
    measured decision, not an oversight: the profiles are pairwise
    DISJOINT by contract, and the Bokmål/Danish shared closed-class stock
    is so large that a no profile restricted to Bokmål-only spellings
    (hva/mye/noen/ut/opp/alltid) sums to well under the 6% min_ratio on
    real text, while stripping the shared words from ``da`` would push
    real Danish under the threshold too — both languages would degrade to
    'und'. Macedonian that carries none of its unique ѓ/ѕ/ќ letters at
    the marker ratio resolves to 'sr' (its closest relative — both use
    ј/љ/њ/џ), not 'ru'.

    Feeds ``sampling.temperature_mixture_rates`` (Conneau et al. α-sampling)
    — breadth here is what makes the mixture stage able to balance
    low-resource languages instead of lumping them into 'und'."""
    # --- tier 1: script ratios over non-whitespace characters
    n_chars = F.greatest(
        F.length(F.regexp_replace(text, r"\s", "")), F.lit(1)
    )

    def script_ratio(ranges: str) -> Column:
        return F.regexp_count(text, F.lit(f"[{ranges}]")) / n_chars

    s_ordered = sorted(SCRIPT_RANGES.items())
    s_scored = [
        F.struct(
            script_ratio(ranges).alias("r"),
            F.lit(len(s_ordered) - i).alias("prio"),
            F.lit(code).alias("code"),
        )
        for i, (code, ranges) in enumerate(s_ordered)
    ]
    s_best = F.greatest(*s_scored)

    # --- tier 2: function-word ratios over whitespace tokens.
    # One InSet pass (the 170-word union compiles to a hash set — above
    # Spark's inSetConversionThreshold) narrows the token array to profile
    # hits FIRST; the 17 per-language counts then scan the much shorter
    # hits array instead of 17 full passes over every token. Exact by the
    # subset identity: a language's profile words within toks == within
    # hits, and the denominator stays the full token count. Pass a
    # pre-MATERIALIZED hits column (``profile_hits`` behind a Generate
    # barrier, as ``analyze`` does) where possible — higher-order filters
    # are interpreted, so an inline hits subtree re-evaluates once per
    # referencing language. (r12 — the DuckDB twin keeps the direct
    # per-language filters; values provably identical.)
    toks = ltoks if ltoks is not None else tokens_column(F.lower(text))
    n = F.greatest(F.size(toks), F.lit(1))
    if hits is None:
        hits = profile_hits(toks)

    def ratio(words: tuple[str, ...]) -> Column:
        return F.size(F.filter(hits, _isin_factory(words))) / n

    ordered = sorted(LANGUAGE_PROFILES.items())
    scored = [
        F.struct(
            ratio(words).alias("r"),
            # struct-greatest compares (ratio, priority, code): priority
            # DESCENDS alphabetically, so equal ratios resolve to the
            # alphabetically first code — deterministic ties
            F.lit(len(ordered) - i).alias("prio"),
            F.lit(code).alias("code"),
        )
        for i, (code, words) in enumerate(ordered)
    ]
    best = F.greatest(*scored) if len(scored) > 1 else scored[0]
    kana_r = script_ratio(SCRIPT_RANGES["ja"])
    cjk_r = kana_r + script_ratio(SCRIPT_RANGES["zh"])
    word_pick = F.when(
        best.getField("r") >= min_ratio, best.getField("code")
    ).otherwise(F.lit("und"))
    # Latin fast path: ONE combined-ranges regex decides whether any script
    # tier can possibly fire — with zero script chars every script ratio is
    # 0, which can never clear the (positive) kana/script thresholds, so the
    # chain PROVABLY collapses to the word tier. CASE branches evaluate
    # lazily under codegen, so the dominant all-Latin corpus pays one regex
    # scan instead of the 11 per-script counts (measured r12: text_corpus_
    # stats 15.2-16.4s → see SCALING.md; the DuckDB twin keeps the full
    # chain — equivalence is by the 0-ratio argument, pinned by fixtures).
    any_script = (
        F.regexp_count(text, F.lit(f"[{''.join(SCRIPT_RANGES.values())}]"))
        > 0
    )
    return F.when(~any_script, word_pick).otherwise(
        F.when(
            (kana_r >= kana_min_ratio) & (cjk_r >= script_min_ratio),
            F.lit("ja"),
        )
        .when(
            s_best.getField("r") >= script_min_ratio,
            F.when(
                s_best.getField("code") == "ru", cyrillic_refined(text)
            ).otherwise(s_best.getField("code")),
        )
        .otherwise(word_pick)
    )


def _isin_factory(words: tuple[str, ...]):
    """Exact-arity HOF lambda factory (no default-arg captures)."""

    def check(t: Column) -> Column:
        return t.isin(*words)

    return check


# union of every profile's words — the tier-2 pre-filter set
_ALL_PROFILE_WORDS: tuple[str, ...] = tuple(
    w for words in LANGUAGE_PROFILES.values() for w in words
)


def profile_hits(ltoks: Column) -> Column:
    """Lowercased tokens narrowed to the 170-word profile union (one InSet
    hash-set pass) — the tier-2 input ``language_id_multi`` scans 17×.
    Materialize it behind a Generate barrier when attaching to a frame."""
    return F.filter(ltoks, _isin_factory(_ALL_PROFILE_WORDS))


def normalized_text(text: Column) -> Column:
    """Lowercase + collapse whitespace — canonical form for fingerprinting."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


# decode order matters: named/numeric entities first, '&amp;' strictly LAST
# (else '&amp;lt;' would double-decode to '<')
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text(html: Column) -> Column:
    """Crawl-stage HTML → text heuristic, entirely JVM regexp (no parser in
    the hot path): drop <script>/<style> blocks and comments (non-greedy,
    dot-matches-newline), strip remaining tags to spaces, decode the six
    entities that dominate crawl text, collapse whitespace.

    Deliberately regex-grade — the fast first pass a 100 TB crawl pipeline
    runs before any per-domain parser: no CDATA, no conditional comments, no
    nested-entity handling (documented misses, same trade as the reference
    toolchains'). Patterns avoid backreferences so an RE2-based oracle
    (DuckDB) can run the identical chain."""
    t = F.regexp_replace(
        html, r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>", " "
    )
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for entity, ch in _HTML_ENTITIES:
        t = F.replace(t, F.lit(entity), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


_BOILERPLATE_TAGS = ("nav", "header", "footer", "aside", "form", "noscript")


def html_main_content(html: Column) -> Column:
    """``html_to_text`` with STRUCTURAL boilerplate regions removed first:
    ``<nav>/<header>/<footer>/<aside>/<form>/<noscript>`` blocks drop
    wholesale (non-greedy to the first matching close — nested same-tag
    blocks cut short, the documented regex-grade trade shared with
    ``html_to_text``'s script/style handling). This is the crawl-stage
    main-content heuristic: menus, mastheads, and footers dominate the
    DUPLICATED text across a site's pages, so stripping them before dedup
    sharpens near-dup precision and mixture statistics. RE2-safe patterns —
    an external oracle runs the identical chain."""
    t = html
    for tag in _BOILERPLATE_TAGS:
        t = F.regexp_replace(t, rf"(?is)<{tag}\b.*?</{tag}\s*>", " ")
    return html_to_text(t)


def fingerprint(text: Column) -> Column:
    """md5 of the normalized text (exact-dup key)."""
    return F.md5(normalized_text(text))


def nonempty_lines(text: Column) -> Column:
    """Non-blank lines of a document (array<string>)."""
    return F.filter(F.split(text, "\n"), lambda l: F.length(F.trim(l)) > 0)


def repetition_columns(lines: Column, ltoks: Column) -> dict[str, Column]:
    """Gopher-style repetition quality signals over PRE-MATERIALIZED arrays
    (pass columns that sit behind a Generate barrier — see ``analyze`` — so the
    split/tokenize work is not re-inlined per reference):

    - ``word_rep_ratio``: 1 − distinct/total lowercase tokens (0 for empty).
    - ``line_dup_frac``: fraction of non-blank lines that are repeats of an
      earlier line, 1 − distinct/total (0 for line-less docs).
    - ``dup_line_char_frac``: fraction of line characters that live in lines
      occurring more than once. The membership test is a nested HOF filter —
      O(lines²) per row, bounded by per-document line counts, never corpus-
      sized.

    All three are row-local Column expressions: at 100 TB this is a pure map
    stage — no shuffle, no UDF.
    """
    n_lines = F.size(lines)
    n_toks = F.size(ltoks)
    dup_lines = F.filter(
        lines, lambda l: F.size(F.filter(lines, lambda y: y == l)) > 1
    )
    line_chars = F.aggregate(lines, F.lit(0), lambda acc, l: acc + F.length(l))
    dup_chars = F.aggregate(dup_lines, F.lit(0), lambda acc, l: acc + F.length(l))
    return {
        "word_rep_ratio": stable_round(
            F.when(
                n_toks > 0,
                1.0 - F.size(F.array_distinct(ltoks)) / n_toks,
            ).otherwise(F.lit(0.0)),
            4,
        ),
        "line_dup_frac": stable_round(
            F.when(
                n_lines > 0,
                1.0 - F.size(F.array_distinct(lines)) / n_lines,
            ).otherwise(F.lit(0.0)),
            4,
        ),
        "dup_line_char_frac": stable_round(
            dup_chars / F.greatest(line_chars, F.lit(1)), 4
        ),
    }


def top_ngrams(
    df: DataFrame, text_col: str = "text", k: int = 3, top: int = 20
) -> DataFrame:
    """Corpus-wide top word-k-grams by document frequency (each gram counted
    once per doc): Generate-barriered tokenize → gram explode → distinct per
    doc → one count shuffle with partial agg → TakeOrdered top-k."""
    toks = tokens_column(normalized_text(F.col(text_col)))
    w = df.select(F.explode(F.array(toks)).alias("w"), F.col("doc_id"))
    n = F.size("w")
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice("w", i + 1, k)))
    )
    exploded = w.select("doc_id", F.explode(grams).alias("ngram"))
    return (
        exploded.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("ngram").asc())
        .limit(top)
    )


def quality_filter_stats(df: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """The filter step of a training-data pipeline as an auditable aggregate:
    per predicted language, how many documents survive the quality threshold
    and their average quality — analyze() composed with filter + groupBy."""
    analyzed = analyze(df)
    return (
        analyzed.filter(F.col("quality") >= min_quality)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            stable_round(F.avg("quality"), 4).alias("avg_quality"),
            stable_round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        )
        .orderBy("lang_pred")
    )


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full analysis column set to a documents DataFrame.

    Tokenization runs ONCE per document: both token arrays are materialized
    behind a Generate-node barrier (single-element-array explode — see
    dedup.shingle_rows for the measured pathology), then every derived metric
    reads the materialized arrays. The shared stopword/punct ratios are
    projected once and reused; CollapseProject keeps multi-referenced non-cheap
    expressions in their own projection, so they are not re-inlined."""
    t = F.col(text_col)
    lt = tokens_column(F.lower(t))
    arrays = F.explode(
        F.array(
            F.struct(
                tokens_column(t).alias("toks"),
                lt.alias("ltoks"),
                nonempty_lines(t).alias("lines"),
                # tier-2 pre-filter for the 30-language ID: materialized
                # here so the 17 per-language counts scan a short array
                # instead of re-running the union filter each (HOF
                # filters are interpreted — see language_id_multi)
                profile_hits(lt).alias("hits"),
            )
        )
    )
    base = df.select("*", arrays.alias("_a"))
    ltoks = F.col("_a.ltoks")
    hits = F.size(F.filter(ltoks, lambda x: x.isin(*STOPWORDS)))
    stop_r = hits / F.greatest(F.size(ltoks), F.lit(1))
    scored = base.select(
        "*", stop_r.alias("_stop_r"), punct_ratio(t).alias("_punct_r")
    )
    len_score = F.least(F.length(t) / F.lit(500.0), F.lit(1.0))
    quality = stable_round(
        0.5 * len_score
        + 0.3 * F.least(F.col("_stop_r") * 4.0, F.lit(1.0))
        + 0.2 * (1.0 - F.least(F.col("_punct_r") * 5.0, F.lit(1.0))),
        4,
    )
    pii = redact_pii_columns(t)
    rep = repetition_columns(F.col("_a.lines"), F.col("_a.ltoks"))
    return scored.select(
        *df.columns,
        F.size(F.col("_a.toks")).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        stable_round(F.col("_stop_r"), 4).alias("stopword_ratio"),
        stable_round(F.col("_punct_r"), 4).alias("punct_ratio"),
        quality.alias("quality"),
        # full two-tier 30-language ID (r12 — previously the binary en/und
        # stopword heuristic); reuses the Generate-barriered token and
        # profile-hit arrays
        language_id_multi(t, ltoks=ltoks, hits=F.col("_a.hits")).alias(
            "lang_pred"
        ),
        fingerprint(t).alias("fingerprint"),
        *(expr.alias(name) for name, expr in rep.items()),
        *(expr.alias(name) for name, expr in pii.items()),
    )


def hash_embeddings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    normalize: bool = True,
) -> DataFrame:
    """(id, embedding array<double>) — deterministic hashing-trick document
    embeddings (Weinberger et al. 2009 feature hashing; the same trick
    HashingVectorizer / Spark ML's HashingTF use): each lowercased token
    hashes to a dimension (first 16 md5 bits mod dim) and a sign (17th
    hex digit's parity), the document vector is the signed count per
    dimension, optionally L2-normalized. Sparse random projection of the
    bag-of-words — cosine approximates token-overlap similarity, with NO
    model artifact, so the whole embedding column is reproducible from
    text alone (and by a SQL twin).

    This is the bridge from the text corpus to every embedding operator in
    the engine (`dedup.embedding_cosine_dupes`, `similarity.*`, SemDeDup,
    IVF/PQ indexes) without an external encoder. Plan: tokenize → explode →
    ONE (id, dim-bucket) map-side-combined aggregation → per-doc array
    assembly riding the same id-keyed exchange (two shuffles total, both
    key-partitioned; nothing corpus-wide, no UDF)."""
    toks = df.select(
        F.col(id_col),
        F.explode(tokens_column(F.lower(F.col(text_col)))).alias("tok"),
    )
    h = F.md5(F.col("tok"))
    idx = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % dim).alias("idx")
    sign = (
        (F.conv(F.substring(h, 5, 1), 16, 10).cast("int") % 2) * 2 - 1
    ).alias("sign")
    sums = (
        toks.select(id_col, idx, sign)
        .groupBy(id_col, "idx")
        .agg(F.sum("sign").cast("double").alias("val"))
    )
    entries = sums.groupBy(id_col).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("idx", "val")))
        ).alias("_m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i), F.lit(0.0)),
    )
    out = entries.select(F.col(id_col), vec.alias("embedding"))
    if not normalize:
        return out
    # norm as its own column: an outer reference inside the transform
    # lambda would re-run the fold per ELEMENT (the normalize_vectors trap)
    norm = F.sqrt(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda s, x: s + x * x)
    )
    return (
        out.withColumn("_n", norm)
        .select(
            id_col,
            F.when(
                F.col("_n") > 0,
                F.transform(F.col("embedding"), lambda x: x / F.col("_n")),
            )
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )
