"""Distributed BPE tokenizer — train on the corpus, encode at scale.

Token counting for packing/budgeting (``operators/packing.py``) has so far
used whitespace + regex heuristics; a real pretraining pipeline tokenizes
with a byte-pair-encoding vocabulary learned FROM the corpus (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword Units";
the GPT-2 tokenizer is the same algorithm with ranked merges).

The Spark-first decomposition rests on one fact: **BPE training only needs
the word-frequency table**, not the corpus. So:

1. ``word_frequencies`` — ONE map-side-combined shuffle reduces 100 TB of
   text to its word histogram (heavy-tailed: tens of millions of rows at
   web scale, not corpus-sized);
2. ``fit_bpe`` — the classic merge loop runs on the driver over the
   TOP-``max_words`` rows of that table (the same min-frequency truncation
   every production BPE trainer applies — rare words contribute ~nothing
   to pair counts; the collect is bounded by config, the usual driver
   escape class). Ties break lexicographically, so the fit is
   deterministic for a given corpus.
3. ``bpe_encode`` — Arrow-batched ``mapInPandas``: the ranked merge table
   ships in the task closure, each word is encoded once per batch via a
   cache (Zipf makes the hit rate extreme), no shuffle, no driver.

Encoding uses the rank-priority formulation (repeatedly merge the
lowest-rank adjacent pair), which is equivalent to replaying merges in
order but O(word · merges-applied) instead of O(word · n_merges).

Not SQL-expressible (iterative merge fixpoint) — correctness is pinned by
hand-computed pytest fixtures + an encode/decode round-trip property, the
same verification class as the stateful streaming operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"


def word_frequencies(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(word, freq) histogram of whitespace-delimited words — the sufficient
    statistic for BPE training. One shuffle with map-side partial counts."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    words = docs.select(
        F.explode(
            F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != "")
        ).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for syms, freq in vocab.items():
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + freq
    return counts


def _merge_vocab(
    vocab: dict[tuple[str, ...], int], pair: tuple[str, str]
) -> dict[tuple[str, ...], int]:
    a, b = pair
    merged = a + b
    out: dict[tuple[str, ...], int] = {}
    for syms, freq in vocab.items():
        new: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                new.append(merged)
                i += 2
            else:
                new.append(syms[i])
                i += 1
        out[tuple(new)] = out.get(tuple(new), 0) + freq
    return out


def fit_bpe(
    word_freqs: DataFrame,
    n_merges: int = 200,
    max_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a (word, freq) table.

    Only the ``max_words`` most frequent words are collected (ties →
    lexicographically first word, so the training set itself is
    deterministic); each word becomes its character sequence plus an
    ``</w>`` end-of-word symbol. Every iteration merges the globally most
    frequent adjacent symbol pair (ties → lexicographically smallest
    pair). Stops early when no pair occurs twice."""
    rows = (
        word_freqs.orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        syms = tuple(list(r["word"]) + [END_OF_WORD])
        vocab[syms] = vocab.get(syms, 0) + r["freq"]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        # deterministic: highest count, then lexicographically smallest pair
        best_count = max(counts.values())
        best_pair = min(p for p, c in counts.items() if c == best_count)
        if counts[best_pair] < 2:
            break
        merges.append(best_pair)
        vocab = _merge_vocab(vocab, best_pair)
    return merges


def bpe_vocab(merges: list[tuple[str, str]]) -> list[str]:
    """The token inventory the merge table can emit: single characters are
    implicit (open vocabulary); this returns the LEARNED multi-char tokens
    in merge order."""
    return [a + b for a, b in merges]


def _encode_word(
    word: str, ranks: dict[tuple[str, str], int], cache: dict[str, list[str]]
) -> list[str]:
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    cache[word] = syms
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lowercase: bool = True,
    tokens_col: str = "tokens",
) -> DataFrame:
    """docs + (``tokens`` array<string>, ``n_tokens``) — Arrow-batched
    ``mapInPandas``, no shuffle; the ranked merge table travels in the task
    closure (n_merges small strings), and a per-task word cache makes the
    amortized cost per word ~a dict hit (Zipf). ``n_tokens`` feeds straight
    into ``operators/packing``'s budgeted sequence packing."""
    from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = StructType(
        list(docs.schema.fields)
        + [
            StructField(tokens_col, ArrayType(StringType())),
            StructField("n_tokens", IntegerType()),
        ]
    )

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            ntok = []
            for text in pdf[text_col]:
                if text is None:
                    toks.append(None)
                    ntok.append(None)
                    continue
                s = text.lower() if lowercase else text
                out: list[str] = []
                for w in s.split():
                    out.extend(_encode_word(w, ranks, cache))
                toks.append(out)
                ntok.append(len(out))
            pdf = pdf.copy()
            pdf[tokens_col] = toks
            pdf["n_tokens"] = ntok
            yield pdf

    return docs.mapInPandas(run, schema=out_schema)


def bpe_decode_column(tokens_col: str = "tokens"):
    """Column expression inverting ``bpe_encode``: concatenate tokens and
    turn end-of-word markers back into single spaces (pure JVM — decode
    needs no Python). Round-trips whitespace-normalized lowercased text."""
    joined = F.concat_ws("", F.col(tokens_col))
    return F.trim(F.regexp_replace(joined, END_OF_WORD, " "))


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Persist the merge table (the whole tokenizer — a frozen vocabulary
    is what makes token counts comparable across ingest batches). Written
    through the storage client so s3:// works like a local path."""
    import json

    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    storage = ObjectStorage(path.rsplit("/", 1)[0] or ".")
    storage.write_bytes(
        path.rsplit("/", 1)[-1],
        json.dumps({"merges": [[a, b] for a, b in merges]}).encode(),
    )


def load_merges(path: str) -> list[tuple[str, str]]:
    import json

    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    storage = ObjectStorage(path.rsplit("/", 1)[0] or ".")
    data = json.loads(storage.read_bytes(path.rsplit("/", 1)[-1]))
    return [(a, b) for a, b in data["merges"]]


UNK_TOKEN = "<unk>"


def bpe_vocab_ids(
    word_freqs: DataFrame, merges: list[tuple[str, str]]
) -> list[str]:
    """Closed vocabulary with stable integer ids (index = id) — what a
    trainer's data loader actually consumes (token IDS, not strings):

    - id 0: ``<unk>`` (characters unseen at fit time);
    - then the corpus's single characters, sorted (one bounded-cardinality
      distinct over the word table — charset-sized, not corpus-sized);
    - then ``</w>``;
    - then the learned merges' surface strings, in merge order, FIRST
      OCCURRENCE only: two merges can produce the same surface string
      (``('a','bc')`` and ``('ab','c')`` both yield ``'abc'``), and a
      duplicate entry would leave the earlier id a dead slot the id dicts
      in ``bpe_encode_ids``/``map_tokens_to_ids`` never emit (r14 ADVICE).
      Keeping the first keeps id↔token a bijection — vocab size equals
      distinct emittable ids.

    The character inventory is extracted CODEPOINT-wise (an Arrow-batched
    per-partition set union, output charset-sized per task), matching
    ``_encode_word``'s ``list(word)`` symbol model — a JVM-side
    ``split(word, '')`` would cut on UTF-16 code units and enter non-BMP
    characters (emoji, rare CJK) as two surrogate halves the encoder never
    emits, silently mapping them to UNK (r14 ADVICE).

    Deterministic for a given (word table, merges): re-deriving from the
    same frozen artifacts yields identical ids across sessions; persist it
    beside the merges with ``save_vocab`` so token ids stay comparable
    across ingest batches for the lifetime of the tokenizer."""

    def chars_of(batches):
        import pandas as pd

        seen: set[str] = set()
        for pdf in batches:
            for w in pdf["word"]:
                if w is not None:
                    seen.update(w)  # iterates code points, like list(word)
        yield pd.DataFrame({"c": sorted(seen)})

    chars = sorted(
        r["c"]
        for r in word_freqs.select("word")
        .mapInPandas(chars_of, "c string")
        .distinct()
        .collect()
    )
    out = [UNK_TOKEN] + chars + [END_OF_WORD]
    present = set(out)
    for a, b in merges:
        t = a + b
        if t not in present:
            out.append(t)
            present.add(t)
    return out


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: list[str],
    text_col: str = "text",
    lowercase: bool = True,
    ids_col: str = "token_ids",
) -> DataFrame:
    """docs + (``token_ids`` array<int>, ``n_tokens``) — the same
    Arrow-batched no-shuffle shape as ``bpe_encode``, with the string→id
    mapping applied inside the same pass (the vocab dict travels in the
    task closure; tokens outside the vocab map to id 0 = UNK).
    ``n_tokens`` is identical to ``bpe_encode``'s for the same merges, so
    these ids drop straight into the ``token_count_col`` packing path."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    ranks = {pair: i for i, pair in enumerate(merges)}
    ids = {t: i for i, t in enumerate(vocab)}
    out_schema = StructType(
        list(docs.schema.fields)
        + [
            StructField(ids_col, ArrayType(IntegerType())),
            StructField("n_tokens", IntegerType()),
        ]
    )

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            out_ids = []
            ntok = []
            for text in pdf[text_col]:
                if text is None:
                    out_ids.append(None)
                    ntok.append(None)
                    continue
                s = text.lower() if lowercase else text
                row = []
                for w in s.split():
                    row.extend(
                        ids.get(t, 0) for t in _encode_word(w, ranks, cache)
                    )
                out_ids.append(row)
                ntok.append(len(row))
            pdf = pdf.copy()
            pdf[ids_col] = out_ids
            pdf["n_tokens"] = ntok
            yield pdf

    return docs.mapInPandas(run, schema=out_schema)


def bpe_decode_ids(ids: list[int], vocab: list[str]) -> str:
    """Driver-side inverse of ``bpe_encode_ids`` for one window: id →
    token string, end-of-word markers → spaces. Round-trips
    whitespace-normalized lowercased text when no id is UNK."""
    return "".join(vocab[i] for i in ids).replace(END_OF_WORD, " ").strip()


def map_tokens_to_ids(
    df: DataFrame,
    vocab: list[str],
    tokens_col: str = "pack_window",
    out_col: str = "pack_ids",
) -> DataFrame:
    """Attach an id column for an existing token-array column — the bridge
    from ``packing.assemble_bpe_packs``' ``pack_window`` to the integer
    windows a trainer loads. Arrow-batched ``mapInPandas`` with the vocab
    dict in the closure: a literal-map expression at vocab size would
    bloat the plan instead (the r7 plan-size lesson). Unknown tokens map
    to id 0; null arrays pass through as null."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    ids = {t: i for i, t in enumerate(vocab)}
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(IntegerType()))]
    )

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                None if toks is None else [ids.get(t, 0) for t in toks]
                for toks in pdf[tokens_col]
            ]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def save_vocab(vocab: list[str], path: str) -> None:
    """Persist the id↔token table beside the merges (the pair is the whole
    frozen tokenizer). Same storage client as ``save_merges`` — s3://
    works like a local path."""
    import json

    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    storage = ObjectStorage(path.rsplit("/", 1)[0] or ".")
    storage.write_bytes(
        path.rsplit("/", 1)[-1], json.dumps({"vocab": vocab}).encode()
    )


def load_vocab(path: str) -> list[str]:
    import json

    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    storage = ObjectStorage(path.rsplit("/", 1)[0] or ".")
    return list(json.loads(storage.read_bytes(path.rsplit("/", 1)[-1]))["vocab"])
