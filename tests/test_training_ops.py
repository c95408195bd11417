"""Unit tests for the training-data-pipeline suites (multimodal binary
plumbing, dedup additions, text analysis). The DuckDB value-hash parity for
every SQL-expressible query runs in tools/parity_check.py and the driver's
gate; these tests pin the Python-side seams and the invariants the SQL
comparison cannot see (schemas, stub behavior, determinism)."""

from __future__ import annotations

import hashlib

import pytest

from ocr_module_spark.functions import multimodal as mm


# -- multimodal: the stubbed decode seam -------------------------------------

def test_decode_real_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm._decode_real(b"\x89PNG....")


def test_fake_features_deterministic_and_shaped():
    a = mm.fake_features(b"hello world payload")
    b = mm.fake_features(b"hello world payload")
    assert a == b
    assert len(a) == mm.N_FEATURES
    assert all(isinstance(x, float) for x in a)
    # scaled-integer mean byte: exact, no FP rounding ties
    payload = b"hello world payload"
    assert a[1] == float(sum(payload) * 10000 // len(payload))


def test_fake_features_empty_payload():
    assert mm.fake_features(b"") == [0.0] * mm.N_FEATURES


def test_media_features_arrow_plumbing(spark):
    """media_features: fixed output schema, one row per input, values equal
    the pure function — the Arrow batch boundary changes nothing."""
    rows = [(1, b"abc def"), (2, b""), (3, None), (4, b"\x00\xff" * 40)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mm.media_features(df)
    assert out.schema.simpleString() == \
        "struct<doc_id:bigint,features:array<double>>"
    got = {r["doc_id"]: r["features"] for r in out.collect()}
    assert len(got) == 4
    for doc_id, payload in rows:
        expect = mm.fake_features(payload or b"")
        assert got[doc_id] == pytest.approx(expect), doc_id


def test_media_features_single_stage_plan(spark):
    """The feature extraction must pipeline inside the scan stage: no
    Exchange in the physical plan."""
    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    plan = mm.media_features(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_media_metadata_mime_sniff(spark):
    rows = [(1, b"<html><body>x</body></html>"),
            (2, b"%PDF-1.7 ..."),
            (3, b'{"pages": []}'),
            (4, b"\x89PNG\r\n")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: (r["mime"], r["n_bytes"], r["checksum"])
           for r in df.select("doc_id", *mm.media_metadata_cols()).collect()}
    assert out[1][0] == "text/html"
    assert out[2][0] == "application/pdf"
    assert out[3][0] == "application/json"
    assert out[4][0] == "application/octet-stream"
    for doc_id, payload in rows:
        assert out[doc_id][1] == len(payload)
        assert out[doc_id][2] == hashlib.md5(payload).hexdigest()


def test_frame_sample_slicing(spark, sf_dir):
    """Every sampled frame checksum equals the md5 of the corresponding
    payload slice computed in plain Python (JVM substr semantics pinned)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where("doc_id < 20").collect()
    text = {r["doc_id"]: r["text"] for r in docs}
    out = mm.q_mm_frame_sample(spark, sf_dir) \
        .where("doc_id < 20").collect()
    assert out
    for r in out:
        payload = text[r["doc_id"]].encode()
        start = r["frame_no"] * mm.FRAME_BYTES
        sl = payload[start:start + mm.FRAME_BYTES]
        assert r["frame_checksum"] == hashlib.md5(sl).hexdigest()
        assert r["frame_no"] % mm.FRAME_STRIDE == 0


# -- dedup additions ---------------------------------------------------------

def test_embedding_cosine_pairs_symmetric_bounded(spark, sf_dir):
    from ocr_module_spark.functions.dedup import (
        COSINE_THRESHOLD, q_dedup_embedding_cosine)
    rows = q_dedup_embedding_cosine(spark, sf_dir).collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert COSINE_THRESHOLD <= r["cosine"] <= 1.0001


def test_emb_banded_candidates_contain_single_bucket(spark, sf_dir):
    """Banded sign-LSH candidate pairs must be a superset of the single
    fixed-bucket candidate set (band 0 IS the old bucket), and adding
    bands must only ever ADD recall."""
    from ocr_module_spark.functions.dedup import (
        EMB_BAND_BITS, emb_candidate_pairs)
    single = {(r["id_a"], r["id_b"]) for r in
              emb_candidate_pairs(spark, sf_dir, bands=1,
                                  bits=EMB_BAND_BITS).collect()}
    banded = {(r["id_a"], r["id_b"]) for r in
              emb_candidate_pairs(spark, sf_dir, bands=2,
                                  bits=EMB_BAND_BITS).collect()}
    assert single <= banded
    assert len(banded) > len(single)  # second hyperplane set adds recall


def test_jaccard_pairs_are_lsh_candidates(spark, sf_dir):
    """Every verified near-dup pair must come from the LSH candidate set
    (bucket-driven window, not an id cap)."""
    from ocr_module_spark.functions.dedup import (
        N_BANDS, _docs, banded_candidate_pairs, q_dedup_jaccard_pairs)
    cands = {(r["doc_a"], r["doc_b"]) for r in banded_candidate_pairs(
        _docs(spark, sf_dir), 1, N_BANDS).collect()}
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             q_dedup_jaccard_pairs(spark, sf_dir).collect()}
    assert pairs <= cands


def test_ngram_jaccard_in_unit_interval(spark, sf_dir):
    from ocr_module_spark.functions.dedup import q_dedup_ngram_jaccard
    rows = q_dedup_ngram_jaccard(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


# -- text analysis additions -------------------------------------------------

def test_rolling_fingerprint_bounds_and_determinism(spark, sf_dir):
    from ocr_module_spark.functions.textstats import (
        RH_M, q_rolling_fingerprint)
    a = {r["doc_id"]: r["fingerprint"]
         for r in q_rolling_fingerprint(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["fingerprint"]
         for r in q_rolling_fingerprint(spark, sf_dir).collect()}
    assert a == b
    assert all(0 <= v < RH_M for v in a.values())


def test_bpe_token_estimate_superset_of_words(spark, sf_dir):
    """The BPE-ish pre-tokenizer never yields fewer tokens than the
    whitespace split (it only splits further)."""
    from ocr_module_spark.functions.textstats import q_bpe_token_estimate
    rows = q_bpe_token_estimate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["tokens_minus_words"] >= 0


def test_cc_labels_match_union_find(spark, sf_dir):
    """The CC_ROUNDS-bounded label propagation equals true connected
    components — a pure-Python union-find over the same collected
    edges — on the test corpus: if a corpus change ever makes chains
    longer than CC_ROUNDS hops, this fails and CC_ROUNDS must be
    raised."""
    from ocr_module_spark.functions.dedup import (_docs, cc_labels,
                                                  lsh_edges_frame)
    edges = lsh_edges_frame(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    root: dict = {}

    def find(x):
        root.setdefault(x, x)
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x
    for r in edges.collect():
        ra, rb = find(r["a"]), find(r["b"])
        # the smaller root wins, so every root is its component's min
        root[max(ra, rb)] = min(ra, rb)
    assert root, "the test corpus has near-dup edges"
    assert {(r["node"], r["label"]) for r in cc_labels(edges).collect()} \
        == {(n, find(n)) for n in list(root)}


@pytest.mark.parametrize("k", [3, 7, 12])
def test_cc_labels_stop_at_fixpoint(spark, monkeypatch, k):
    """On the path 0-1-...-k label 0 needs k rounds to reach node k, so
    the loop runs k + 1 rounds (the last changes nothing) and stops at
    CC_ROUNDS when k + 1 exceeds it; either way the labels are those of
    exactly CC_ROUNDS synchronous min-pull rounds. Rounds are counted
    as checkpoints of a label frame."""
    from pyspark.sql.classic.dataframe import DataFrame
    from ocr_module_spark.functions.dedup import CC_ROUNDS, cc_labels
    edges = spark.createDataFrame([(i, i + 1) for i in range(k)],
                                  "a long, b long")
    rounds = []
    checkpoint = DataFrame.localCheckpoint

    def counting(self, *args, **kwargs):
        if "label" in self.columns:
            rounds.append(self.columns)
        return checkpoint(self, *args, **kwargs)
    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    got = {(r["node"], r["label"]) for r in cc_labels(edges).collect()}
    monkeypatch.undo()

    nbrs = {n: {m for m in (n - 1, n + 1) if 0 <= m <= k}
            for n in range(k + 1)}
    label = {n: n for n in nbrs}
    for _ in range(1, CC_ROUNDS + 1):
        label = {n: min([label[n]] + [label[m] for m in nbrs[n]])
                 for n in nbrs}
    assert got == set(label.items())
    assert len(rounds) == min(CC_ROUNDS, k + 1)


def test_png_codec_round_trip():
    """The stdlib PNG codec: encode→decode is the identity on dims,
    pixel stream and tEXt metadata; container is spec-valid (signature,
    CRC-checked chunks)."""
    from ocr_module_spark.functions.png import (SIGNATURE, decode_png,
                                                encode_png)
    rgb = bytes(range(256)) * 3  # 16x16 RGB = 768 bytes
    data = encode_png(16, 16, rgb, text={"k": "v", "page": "3"})
    assert data.startswith(SIGNATURE)
    w, h, pixels, text = decode_png(data)
    assert (w, h) == (16, 16)
    assert pixels == rgb
    assert text == {"k": "v", "page": "3"}
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\njunk")
    with pytest.raises(ValueError):
        encode_png(2, 2, b"short")
    # corrupt one IDAT byte -> CRC failure, not silent garbage
    corrupt = bytearray(data)
    corrupt[len(data) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))


def test_extract_image_region_is_decodable_png():
    """S5 region crop: REAL decodable PNG bytes (the reference emits
    PNG, pymupdf_image_extractor.py:15-50); pt-space bbox round-trips
    via tEXt (P7 inch->pt), pixels are the deterministic digest raster,
    distinct per (page, bbox, payload)."""
    import hashlib
    from ocr_module_spark.functions.multimodal import (
        REGION_MAGIC, extract_image_region, region_dims)
    from ocr_module_spark.functions.png import decode_png
    payload = b'{"format": "blocks"}'
    bbox = [1.0, 2.0, 3.5, 5.25]
    r1 = extract_image_region(payload, 0, bbox)
    assert r1 == extract_image_region(payload, 0, bbox)
    assert r1.startswith(REGION_MAGIC)
    w, h, rgb, text = decode_png(r1)
    assert (w, h) == region_dims(bbox)
    assert text["bbox_pt"] == "72.0000,144.0000,252.0000,378.0000"
    assert text["page"] == "0"
    digest = hashlib.md5(
        payload + b"0|" + text["bbox_pt"].encode()).digest()
    n = w * h * 3
    assert rgb == (digest * (n // 16 + 1))[:n]
    assert extract_image_region(payload, 1, bbox) != r1
    assert extract_image_region(b"other", 0, bbox) != r1
    assert extract_image_region(None, 0, bbox) is None
    assert extract_image_region(payload, 0, None) is None


def test_extract_regions_query_matches_parser(spark, sf_dir):
    """Every bboxed figure block of the corpus yields exactly one region
    row; each row's length matches an independent recomputation and the
    bytes behind each sha are decodable PNGs (spot-checked via the
    recomputed region)."""
    from ocr_module_spark import corpus, oracle
    from ocr_module_spark.functions.multimodal import extract_image_region
    from ocr_module_spark.functions.png import decode_png
    from ocr_module_spark.operators.extraction import q_extract_regions
    rows = q_extract_regions(spark, sf_dir).collect()
    got = {(r["url"], r["page_number"], r["block_no"]):
           (r["region_sha256"], r["region_len"]) for r in rows}
    expected = {}
    for i in range(200):  # sf0.001 -> n=200
        url, payload = corpus.url_for(i), corpus.payload_for(i)
        for b in oracle.parse_payload(payload).blocks:
            if b.kind == "figure" and b.bbox is not None:
                rb = extract_image_region(payload, b.page_number, b.bbox)
                decode_png(rb)  # every region must be a valid PNG
                expected[(url, b.page_number, b.block_no)] = (
                    hashlib.sha256(rb).hexdigest(), len(rb))
    assert got == expected and got


def test_png_codec_fuzz_round_trip():
    """Property: encode→decode is the identity for arbitrary dims and
    pixel bytes (hypothesis over the dimension/pixel space)."""
    from hypothesis import given, settings, strategies as st
    from ocr_module_spark.functions.png import decode_png, encode_png

    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40), st.data())
    def check(w, h, data):
        rgb = data.draw(st.binary(min_size=w * h * 3, max_size=w * h * 3))
        wid, hei, pixels, _ = decode_png(encode_png(w, h, rgb))
        assert (wid, hei, pixels) == (w, h, rgb)

    check()
