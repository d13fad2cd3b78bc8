"""Distributed BPE tokenizer (`operators/tokenizer.py`): the fit reproduces
the textbook merge sequence on a hand-computed corpus, encode/decode
round-trips, the merge loop is deterministic, and encoding never shuffles."""

import pytest
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators import tokenizer as tok


@pytest.fixture(scope="module")
def tiny_docs(spark):
    # the classic Sennrich-style fixture: 'low' x5, 'lower' x2, 'newest' x6,
    # 'widest' x3 — known merge order starts with ('e','s'), ('es','t'), ...
    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    return spark.createDataFrame([(0, text)], "doc_id long, text string")


def test_word_frequencies(tiny_docs):
    wf = {r["word"]: r["freq"]
          for r in tok.word_frequencies(tiny_docs).collect()}
    assert wf == {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_fit_reproduces_textbook_merges(tiny_docs):
    wf = tok.word_frequencies(tiny_docs)
    merges = tok.fit_bpe(wf, n_merges=4)
    # pair counts: ('e','s') appears in newest(6)+widest(3)=9 -> first merge;
    # then ('es','t') 9; then ('est','</w>') 9; then ('l','o') 7
    assert merges == [("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")]


def test_fit_is_deterministic(tiny_docs):
    wf = tok.word_frequencies(tiny_docs)
    assert tok.fit_bpe(wf, n_merges=10) == tok.fit_bpe(wf, n_merges=10)


def test_encode_applies_ranked_merges(tiny_docs):
    wf = tok.word_frequencies(tiny_docs)
    merges = tok.fit_bpe(wf, n_merges=4)
    enc = tok.bpe_encode(tiny_docs, merges)
    row = enc.collect()[0]
    toks = row["tokens"]
    # 'newest' -> n e w est</w>  (est merged with the eow marker)
    i = toks.index("n")
    assert toks[i : i + 4] == ["n", "e", "w", "est</w>"]
    # 'low' -> lo w </w>
    j = toks.index("lo")
    assert toks[j : j + 3] == ["lo", "w", "</w>"]
    assert row["n_tokens"] == len(toks)


def test_encode_decode_round_trip(spark):
    rows = [
        (0, "The Quick  Brown fox JUMPS over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wf = tok.word_frequencies(docs)
    merges = tok.fit_bpe(wf, n_merges=50)
    enc = tok.bpe_encode(docs, merges)
    out = {r["doc_id"]: r for r in
           enc.withColumn("decoded", tok.bpe_decode_column()).collect()}
    # round-trip = lowercased whitespace-normalized original
    assert out[0]["decoded"] == "the quick brown fox jumps over the lazy dog"
    assert out[1]["decoded"] == "pack my box with five dozen liquor jugs"
    assert out[2]["tokens"] is None and out[2]["n_tokens"] is None


def test_unseen_words_stay_open_vocabulary(tiny_docs):
    wf = tok.word_frequencies(tiny_docs)
    merges = tok.fit_bpe(wf, n_merges=4)
    spark = tiny_docs.sparkSession
    unseen = spark.createDataFrame([(9, "zesty")], "doc_id long, text string")
    toks = tok.bpe_encode(unseen, merges).collect()[0]["tokens"]
    # falls back to chars, but learned merges still apply inside it:
    # z est</w>? no: 'zesty' -> z e s t y</w> ; es merges, est merges, no est</w>
    assert "".join(toks) == "zesty" + tok.END_OF_WORD
    assert "est" in toks  # subword reuse on an unseen word


def test_max_words_truncation_bounds_the_collect(tiny_docs):
    wf = tok.word_frequencies(tiny_docs)
    # only the 2 most frequent words (newest x6, low x5) train the vocab:
    # all 'newest' pairs tie at 6, so lexicographic order picks (e,s) then
    # (e,w) — different from the full fixture's (es,t), proving truncation
    merges = tok.fit_bpe(wf, n_merges=2, max_words=2)
    assert merges == [("e", "s"), ("e", "w")]


def test_encode_plan_has_no_shuffle(tiny_docs):
    wf = tok.word_frequencies(tiny_docs)
    merges = tok.fit_bpe(wf, n_merges=4)
    plan = (
        tok.bpe_encode(tiny_docs, merges)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_merge_table_round_trips_through_storage(tiny_docs, tmp_path):
    wf = tok.word_frequencies(tiny_docs)
    merges = tok.fit_bpe(wf, n_merges=10)
    path = str(tmp_path / "bpe" / "merges.json")
    import os
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tok.save_merges(merges, path)
    loaded = tok.load_merges(path)
    assert loaded == merges
    # a frozen vocabulary encodes identically after reload
    a = tok.bpe_encode(tiny_docs, merges).collect()[0]["tokens"]
    b = tok.bpe_encode(tiny_docs, loaded).collect()[0]["tokens"]
    assert a == b


def test_bpe_counts_drive_sequence_packing(spark):
    """tokenizer -> packing integration: pack budgets computed from the
    REAL bpe token counts, not the whitespace heuristic."""
    from kafka_connector_s3_sink_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 3) for i in range(6)],
        "doc_id long, text string",
    )
    wf = tok.word_frequencies(docs)
    merges = tok.fit_bpe(wf, n_merges=3)  # partial merges only
    enc = tok.bpe_encode(docs, merges)
    n_tok = enc.collect()[0]["n_tokens"]
    assert n_tok > 12  # subword count exceeds the 12-word heuristic
    packed = packing.pack_sequences(
        enc, ctx_len=64, token_count_col="n_tokens"
    )
    rows = packed.collect()
    # every doc packs its full bpe token budget
    per_doc = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["seg_tokens"]
    assert per_doc == {i: n_tok for i in range(6)}


# --- r14: the integer-id layer (closed vocab, encode-to-ids, window ids)


@pytest.fixture(scope="module")
def fitted(tiny_docs):
    wf = tok.word_frequencies(tiny_docs)
    merges = tok.fit_bpe(wf, n_merges=8)
    vocab = tok.bpe_vocab_ids(wf, merges)
    return wf, merges, vocab


def test_vocab_structure_and_determinism(tiny_docs, fitted):
    wf, merges, vocab = fitted
    assert vocab[0] == tok.UNK_TOKEN
    # single chars sorted, then </w>, then the merges in merge order
    chars = sorted(set("".join(["low", "lower", "newest", "widest"])))
    assert vocab[1 : 1 + len(chars)] == chars
    assert vocab[1 + len(chars)] == tok.END_OF_WORD
    assert vocab[2 + len(chars) :] == [a + b for a, b in merges]
    assert len(set(vocab)) == len(vocab)  # ids are unambiguous
    assert tok.bpe_vocab_ids(wf, merges) == vocab  # re-derivation stable


def test_encode_ids_parity_with_string_encode(tiny_docs, fitted):
    _, merges, vocab = fitted
    strings = tok.bpe_encode(tiny_docs, merges).collect()[0]
    ids_row = tok.bpe_encode_ids(tiny_docs, merges, vocab).collect()[0]
    assert ids_row["n_tokens"] == strings["n_tokens"]
    assert [vocab[i] for i in ids_row["token_ids"]] == strings["tokens"]
    # decode round-trips the whitespace-normalized lowercased text
    text = tiny_docs.collect()[0]["text"]
    assert tok.bpe_decode_ids(ids_row["token_ids"], vocab) == text


def test_unknown_characters_map_to_unk(spark, fitted):
    _, merges, vocab = fitted
    alien = spark.createDataFrame(
        [(1, "low zzz")], "doc_id long, text string"
    )  # 'z' never appeared at fit time
    row = tok.bpe_encode_ids(alien, merges, vocab).collect()[0]
    assert 0 in row["token_ids"]
    decoded = tok.bpe_decode_ids(row["token_ids"], vocab)
    assert tok.UNK_TOKEN in decoded and decoded.startswith("low")


def test_window_ids_via_map_tokens_to_ids(spark, fitted):
    from kafka_connector_s3_sink_spark.operators import packing

    _, merges, vocab = fitted
    docs = spark.createDataFrame(
        [(i, " ".join(["newest", "low", "wider"] * (2 + i))) for i in range(4)],
        "doc_id long, text string",
    )
    enc = tok.bpe_encode(docs, merges).select(
        "doc_id", F.col("n_tokens").alias("bpe_tokens")
    )
    packed = packing.pack_sequences(
        docs.join(enc, "doc_id"), ctx_len=10, token_count_col="bpe_tokens"
    )
    asm = packing.assemble_bpe_packs(packed, docs, merges)
    with_ids = tok.map_tokens_to_ids(asm, vocab).collect()
    idmap = {t: i for i, t in enumerate(vocab)}
    for r in with_ids:
        assert r["pack_ids"] == [idmap[t] for t in r["pack_window"]]
        assert len(r["pack_ids"]) == r["pack_tokens"]


def test_vocab_save_load_roundtrip(tmp_path, fitted):
    _, _, vocab = fitted
    p = str(tmp_path / "tok" / "vocab.json")
    import os

    os.makedirs(os.path.dirname(p), exist_ok=True)
    tok.save_vocab(vocab, p)
    assert tok.load_vocab(p) == vocab
