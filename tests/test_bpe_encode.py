"""Corpus-scale BPE encoding (encode_corpus) + packed-BPE integration.

The trainer (train_bpe_merges) was already twin-tested in test_bpe; this
suite covers the deployment half: vocabulary construction (byte seed
alphabet on ids 0..255, trained symbols from BYTE_BASE), the Arrow
encode stage vs the pure-Python encode_word twin, byte fallback for
train-time-unseen symbols (round-trip by construction, zero U+FFFD —
the former UNK_ID is gone), the reserved-marker normalization
(ADVICE r3), and end-to-end packing over real token ids (sequence
streams equal the concat-and-split reference).
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from pyspark.sql import functions as F

from ocr_module_spark.functions.bpe import (BYTE_BASE, END, bpe_vocab,
                                            corpus_alphabet, decode_corpus,
                                            encode_corpus,
                                            encode_word, initial_symbols,
                                            packed_bpe_sequences,
                                            train_bpe_merges, vocab_size)

# Java regex \s charset — the engine's tokenizer boundary
_JWS = re.compile(r"[ \t\n\x0b\f\r]+")


def _normal_form(text):
    """The tokenizer's normal form: the round-trip law's right side."""
    if text is None:
        return ""
    return " ".join(
        w for w in _JWS.split(text.lower().replace(END, "")) if w)

DOCS = [
    (1, "s1", "the cat sat on the mat"),
    (2, "s1", "the cat ate the rat"),
    (3, "s2", "THE CAT and the cat"),     # case folding
    (4, "s2", "   "),                      # whitespace-only -> no tokens
    (5, "s2", None),                       # NULL text
    (6, "s1", "thecat catcat the the the"),
]


def _frame(spark):
    return spark.createDataFrame(DOCS, "doc_id long, source string, text string")


def _ref_encode(text, merges, vocab):
    """Pure-Python twin of encode_corpus's per-document path (byte
    fallback included: an unseen symbol emits the UTF-8 bytes of its
    full symbol string on ids 0..255)."""
    if text is None:
        return []
    words = [w for w in _JWS.split(text.lower().replace(END, "")) if w]
    out = []
    for w in words:
        for s in encode_word(w, merges):
            i = vocab.get(s)
            if i is None:
                out.extend(s.encode("utf-8"))
            else:
                out.append(i)
    return out


def test_vocab_is_deterministic_and_covers_merges(spark):
    d = _frame(spark)
    merges = train_bpe_merges(d, n_merges=4)
    alpha = corpus_alphabet(d)
    assert alpha == sorted(alpha) and len(set(alpha)) == len(alpha)
    vocab = bpe_vocab(alpha, merges)
    # ids 0..255 are the byte seed alphabet; trained alphabet ids are
    # BYTE_BASE.. in sorted order, merges follow in training order
    assert all(i >= BYTE_BASE for i in vocab.values())
    assert [vocab[s] for s in alpha] \
        == list(range(BYTE_BASE, BYTE_BASE + len(alpha)))
    for i, (a, b) in enumerate(merges):
        assert vocab[a + b] >= BYTE_BASE + len(alpha)
    assert vocab_size(vocab) == BYTE_BASE + len(vocab)
    assert bpe_vocab(alpha, merges) == vocab  # pure function


def test_encode_corpus_matches_pure_python_twin(spark):
    d = _frame(spark)
    merges = train_bpe_merges(d, n_merges=4)
    vocab = bpe_vocab(corpus_alphabet(d), merges)
    got = {r["doc_id"]: (list(r["token_ids"]), r["n_bpe"])
           for r in encode_corpus(d, merges, vocab).collect()}
    for doc_id, _src, text in DOCS:
        ref = _ref_encode(text, merges, vocab)
        assert got[doc_id] == (ref, len(ref)), doc_id
    # decodability: every non-UNK id round-trips through the vocab to a
    # symbol stream that reassembles the normalized words
    inv = {i: s for s, i in vocab.items()}
    ids, _n = got[1]
    joined = "".join(inv[i] for i in ids)
    assert joined.replace(END, " ").strip() == "the cat sat on the mat"


def test_unknown_characters_byte_fall_back(spark):
    """'q' was never seen at training: it encodes as raw UTF-8 byte
    tokens (ids < BYTE_BASE) instead of an UNK, and the document still
    round-trips exactly."""
    d = _frame(spark)
    merges = train_bpe_merges(d, n_merges=2)
    vocab = bpe_vocab(corpus_alphabet(d), merges)
    held = spark.createDataFrame([(9, "s9", "qqq the")],
                                 "doc_id long, source string, text string")
    enc = encode_corpus(held, merges, vocab)
    ids = {r["doc_id"]: list(r["token_ids"])
           for r in enc.collect()}[9]
    assert any(i < BYTE_BASE for i in ids)     # byte fallback engaged
    assert any(i >= BYTE_BASE for i in ids)    # 'the' still encodes
    assert all(0 <= i < vocab_size(vocab) for i in ids)
    assert ids == _ref_encode("qqq the", merges, vocab)
    dec = decode_corpus(enc, vocab).collect()[0]["text"]
    assert dec == "qqq the" and "�" not in dec


def test_reserved_marker_stripped_before_tokenizing(spark):
    """ADVICE r3: a literal ▁ in corpus text must not alias the word-end
    marker — training and encoding normalize it away identically."""
    a = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    b = spark.createDataFrame([(1, f"a{END}b {END} cd{END}")],
                              "doc_id long, text string")
    syms_a = initial_symbols(a).collect()[0]["syms"]
    syms_b = initial_symbols(b).collect()[0]["syms"]
    assert syms_a == syms_b
    # no symbol except legitimate word-end forms carries the marker
    assert all(s.count(END) <= 1 and (END not in s or s.endswith(END))
               for s in syms_b)


def test_edge_whitespace_train_deploy_agreement(spark):
    """Leading/trailing \\n or \\t (trim strips only spaces): training
    must emit no phantom ''/bare-marker symbols, and the deployment
    encoder must see the identical word list — the train/deploy
    invariant the docstrings promise."""
    dirty = spark.createDataFrame(
        [(1, "s1", "\nhello\tworld "), (2, "s1", "hello world"),
         (3, "s1", "\t\n ")],
        "doc_id long, source string, text string")
    syms = {r["doc_id"]: list(r["syms"])
            for r in initial_symbols(dirty).collect()}
    assert 3 not in syms                       # whitespace-only: no words
    assert syms[1] == syms[2]                  # edge whitespace is inert
    assert all(s and s != END for s in syms[1])
    merges = train_bpe_merges(dirty, n_merges=2)
    vocab = bpe_vocab(corpus_alphabet(dirty), merges)
    assert "" not in vocab and END not in vocab
    got = {r["doc_id"]: list(r["token_ids"])
           for r in encode_corpus(dirty, merges, vocab).collect()}
    assert got[1] == got[2] and got[3] == []
    # trained on its own words: no byte fallback needed
    assert all(i >= BYTE_BASE for i in got[1])


def _h(doc_id) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16)


def test_packed_bpe_sequences_match_concat_and_split_reference(spark):
    d = _frame(spark)
    merges = train_bpe_merges(d, n_merges=4)
    vocab = bpe_vocab(corpus_alphabet(d), merges)
    L = 8
    seqs = packed_bpe_sequences(d, merges, vocab, seq_len=L).collect()

    # reference: per source, docs in hex4(md5(doc_id)) order, ids
    # concatenated then chunked into L-token windows
    streams = defaultdict(list)
    starts = defaultdict(list)
    for doc_id, src, text in DOCS:
        ids = _ref_encode(text, merges, vocab)
        if ids:
            streams[src].append((_h(doc_id), doc_id, ids))
    exp_chunks = {}
    exp_starts = defaultdict(lambda: defaultdict(list))
    for src, docs in streams.items():
        docs.sort()
        flat = []
        for _h_, _id, ids in docs:
            exp_starts[src][len(flat) // L].append(len(flat) % L)
            flat.extend(ids)
        for seq_no in range((len(flat) + L - 1) // L):
            exp_chunks[(src, seq_no)] = flat[seq_no * L:(seq_no + 1) * L]

    got = {(r["source"], r["seq_no"]): r for r in seqs}
    assert set(got) == set(exp_chunks)
    for k, chunk in exp_chunks.items():
        r = got[k]
        assert list(r["tokens"]) == chunk, k
        assert r["n_fill"] == len(chunk), k
        assert list(r["doc_starts"]) == sorted(exp_starts[k[0]][k[1]]), k


def test_encode_plan_is_single_arrow_stage(spark):
    d = _frame(spark)
    merges = train_bpe_merges(d, n_merges=2)
    vocab = bpe_vocab(corpus_alphabet(d), merges)
    plan = (encode_corpus(d, merges, vocab)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_decode_round_trip(spark):
    """decode(encode(t)) == the tokenizer's normal form of t — for
    EVERY corpus doc (byte fallback makes the law unconditional: no
    doc may contain U+FFFD after decode unless the source text did);
    zero-exchange plan."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").where("doc_id < 80")
    merges = train_bpe_merges(docs, n_merges=12)
    vocab = bpe_vocab(corpus_alphabet(docs), merges)
    enc = encode_corpus(docs, merges, vocab)
    plan = decode_corpus(enc, vocab)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]
    dec = {r["doc_id"]: r["text"]
           for r in decode_corpus(enc, vocab).collect()}
    for r in docs.collect():
        want = _normal_form(r["text"])
        assert dec[r["doc_id"]] == want, r["doc_id"]
        if "�" not in (r["text"] or ""):
            assert "�" not in dec[r["doc_id"]], r["doc_id"]


def test_decode_byte_fallback_preserves_boundaries(spark):
    """Train-time-unseen symbols ('z', and 'a' in word-final position)
    ride the byte plane WITH their END marker bytes, so word boundaries
    survive and the text round-trips exactly — the case that used to
    destroy information ('ab ��b�' pre-byte-fallback)."""
    train = spark.createDataFrame(
        [(0, "abc abc cab")], "doc_id long, text string")
    merges = train_bpe_merges(train, n_merges=3)
    vocab = bpe_vocab(corpus_alphabet(train), merges)
    enc = encode_corpus(spark.createDataFrame(
        [(1, "ab zz ba")], "doc_id long, text string"), merges, vocab)
    ids = list(enc.collect()[0]["token_ids"])
    assert any(i < BYTE_BASE for i in ids)      # fallback engaged
    dec = decode_corpus(enc, vocab).collect()[0]["text"]
    assert dec == "ab zz ba"
    assert "�" not in dec
    # a caller's own `_syms` column rides through `keep` untouched
    mine = enc.withColumn("_syms", F.lit("caller"))
    got = decode_corpus(mine, vocab, keep=("doc_id", "_syms")).collect()
    assert [(r["_syms"], r["text"]) for r in got] == [("caller", dec)]


def test_decode_invalid_id_renders_replacement(spark):
    """Corrupt input renders U+FFFD per damaged sequence, never a task
    failure: ids outside the vocabulary coalesce to the replacement
    char, and byte ids forming INVALID UTF-8 (a truncated or
    bit-flipped shard, or a byte run cut at a packed-sequence boundary)
    are repaired by make_valid_utf8 — Spark 4's strict decode() would
    abort the whole job on the lone continuation byte (code-review r5
    finding, reproduced)."""
    train = spark.createDataFrame(
        [(0, "abc abc cab")], "doc_id long, text string")
    merges = train_bpe_merges(train, n_merges=2)
    vocab = bpe_vocab(corpus_alphabet(train), merges)
    bad = spark.createDataFrame(
        [(1, [vocab_size(vocab) + 7, 10 ** 6]),   # out-of-vocab ids
         (2, [200]),                              # lone continuation byte
         (3, [0xE2, 0x96]),                       # truncated 3-byte seq
         (4, [0x61, 0xFF, 0x62])],                # invalid byte mid-word
        "doc_id long, token_ids array<int>")
    dec = {r["doc_id"]: r["text"]
           for r in decode_corpus(bad, vocab).collect()}
    assert dec[1] == "��"
    assert dec[2] == "�"
    assert "�" in dec[3] and "▁" not in dec[3]
    assert dec[4].startswith("a") and "�" in dec[4] and dec[4].endswith("b")


def test_hostile_corpus_round_trips_with_zero_replacement(spark):
    """The full hostile documents table (NULL / empty / unicode-space
    zoo / mojibake / CJK / astral rows, tools/gen_hostile.py) through a
    tokenizer trained on a DIFFERENT tiny corpus — maximal byte
    fallback. Every row must decode back to its normal form with ZERO
    U+FFFD introduced (the VERDICT r4 'kill UNK_ID' bar)."""
    import pathlib
    import sys
    sys.path.insert(0, str(pathlib.Path(__file__).resolve()
                           .parents[1] / "tools"))
    import gen_hostile
    gen_hostile.main()
    docs = (spark.read.parquet(f"{gen_hostile.DST}/documents.parquet")
            .select("doc_id", "text"))
    train = spark.createDataFrame(
        [(0, "the quick brown fox the the quick")],
        "doc_id long, text string")
    merges = train_bpe_merges(train, n_merges=4)
    vocab = bpe_vocab(corpus_alphabet(train), merges)
    enc = encode_corpus(docs, merges, vocab)
    dec = {r["doc_id"]: r["text"]
           for r in decode_corpus(enc, vocab).collect()}
    ids = {r["doc_id"]: list(r["token_ids"]) for r in enc.collect()}
    n_fallback = 0
    for r in docs.collect():
        d = r["doc_id"]
        assert dec[d] == _normal_form(r["text"]), d
        if "�" not in (r["text"] or ""):
            assert "�" not in dec[d], d
        n_fallback += sum(1 for i in ids[d] if i < BYTE_BASE)
        # twin agreement on the hostile rows too
        assert ids[d] == _ref_encode(r["text"], merges, vocab), d
    assert n_fallback > 0          # the corpus exercised the byte plane
