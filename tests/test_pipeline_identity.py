"""End-to-end Spark pipeline tests: byte-identity vs the oracle, and
fast-path vs relational-path agreement (SURVEY.md §5.2 items 1-2).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_module_spark import corpus, oracle, pipeline

N_DOCS = 96  # 12 full shape cycles, includes mismatch/malformed variants


@pytest.fixture(scope="module")
def pages(spark):
    df = corpus.pages_df(spark, N_DOCS).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def extracted(pages):
    rows = pipeline.extract(pages).collect()
    return {r["url"]: r for r in rows}


def _expected():
    return {r["url"]: oracle.extract_document(r["url"], r["html"])
            for r in corpus.rows(N_DOCS)}


def test_fast_path_byte_identity(extracted):
    exp = _expected()
    assert set(extracted) == set(exp)
    for url, e in exp.items():
        got = extracted[url]
        assert got["text"] == e["text"], url          # byte-exact per url
        assert got["n_pages"] == e["n_pages"], url
        assert got["mismatch_flag"] == e["mismatch_flag"], url
        got_spans = [(s["paragraph_id"], s["page_number"], s["role"],
                      list(s["bbox"]) if s["bbox"] is not None else None,
                      s["content"]) for s in got["spans"]]
        exp_spans = [(s["paragraph_id"], s["page_number"], s["role"],
                      s["bbox"], s["content"]) for s in e["spans"]]
        assert got_spans == exp_spans, url
        got_secs = [(s["section_id"], list(s["paragraph_ids"]),
                     list(s["table_ids"]), list(s["figure_ids"]))
                    for s in got["sections"]]
        exp_secs = [(s["section_id"], s["paragraph_ids"], s["table_ids"],
                     s["figure_ids"]) for s in e["sections"]]
        assert got_secs == exp_secs, url


def test_relational_path_matches_fast_path(pages, extracted):
    rel = {r["url"]: r for r in pipeline.extract_relational(pages).collect()}
    assert set(rel) == set(extracted)
    for url, fast in extracted.items():
        assert rel[url]["text"] == fast["text"], url
        assert rel[url]["mismatch_flag"] == fast["mismatch_flag"], url


def test_relational_sections_match_oracle(pages):
    exp = _expected()
    nodes = pipeline.parse_nodes(pages)
    secs = pipeline.sections_df(nodes).collect()
    got: dict = {}
    for r in secs:
        got.setdefault(r["url"], []).append(
            (r["section_id"], list(r["paragraph_ids"]),
             list(r["table_ids"]), list(r["figure_ids"])))
    for url, e in exp.items():
        exp_secs = [(s["section_id"], s["paragraph_ids"], s["table_ids"],
                     s["figure_ids"]) for s in e["sections"]]
        assert sorted(got.get(url, [])) == sorted(exp_secs), url


def test_salted_repartition_invariance(spark, pages):
    """Same result set regardless of repartitioning (shuffle-safety)."""
    a = pipeline.extract(pages, repartition=False)
    b = pipeline.extract(pages, repartition=True, num_partitions=7)
    ha = a.select(F.sha2(F.concat_ws("\x00", "url", "text"), 256).alias("h"))
    hb = b.select(F.sha2(F.concat_ws("\x00", "url", "text"), 256).alias("h"))
    assert sorted(r["h"] for r in ha.collect()) == \
        sorted(r["h"] for r in hb.collect())


def test_classify_agrees_with_pure_predicate(spark, pages):
    """The native-expression classifier == classify.keep_block on every
    fixture block (SURVEY.md hard part: one spec, two expressions)."""
    from ocr_module_spark.classify import keep_block
    nodes = pipeline.parse_nodes(pages)
    rows = pipeline.classify_nodes(nodes).collect()
    assert rows, "no blocks parsed"
    for r in rows:
        assert r["keep"] == keep_block(
            r["kind"], r["role"], r["text_len"], r["link_text_len"]), dict(r)


def test_extract_plan_is_single_stage(pages):
    """The production plan is scan-aligned: ZERO exchanges — parse,
    classify, id-assign, align, and assemble all pipeline inside one stage
    (BENCH.md §3: removing the pre-parse shuffle of raw html bytes took
    8→32-core scaling efficiency from 0.57 to 0.98)."""
    plan = pipeline.extract(pages)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan


def test_extract_skew_plan_has_single_exchange(pages):
    """With repartition=True (skew-laid-out input), exactly one Exchange:
    the explicit salted (host, salt) repartition before the parse."""
    plan = (pipeline.extract(pages, repartition=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan


def test_per_document_failure_isolation(spark):
    """A hostile payload yields an error row, never a task failure
    (reference per-page fallback, translate_pdf.py:114-125; SURVEY §3.3),
    and every row records which parser ran: fast, stdlib fallback,
    block-list, empty (null payload) or error."""
    import json
    from test_fast_tokenizer import ADVERSARIAL_FALLBACK
    from ocr_module_spark.schemas import EXTRACT_SCHEMA
    bad = json.dumps({"format": "blocks", "pages": [
        {"width": "not-a-number", "height": 11.0,
         "blocks": [[0, 0, 1, 1, "x", 0, 0]]}]}).encode()
    payloads = {
        "u-good": corpus.payload_for(0),
        "u-stdlib": ADVERSARIAL_FALLBACK[0],
        "u-blocklist": corpus.payload_for(corpus.SHAPES.index("P1")),
        "u-null": None,
        "u-bad": bad,
    }
    df = spark.createDataFrame(list(payloads.items()),
                               "url string, html binary")
    assert pipeline.extract(df).schema == EXTRACT_SCHEMA
    rows = {r["url"]: r
            for r in pipeline.extract(df, tag_parse_path=True).collect()}
    assert rows["u-bad"]["error"] is not None
    assert "ValueError" in rows["u-bad"]["error"]
    assert rows["u-bad"]["text"] == "" and rows["u-bad"]["spans"] == []
    assert rows["u-bad"]["parse_path"] == "error"
    for url, path in [("u-good", "fast"), ("u-stdlib", "stdlib"),
                      ("u-blocklist", "blocklist"), ("u-null", "empty")]:
        r = rows[url]
        assert r["error"] is None, url
        assert r["parse_path"] == path, url
        assert oracle.parse_payload_tagged(payloads[url])[1] == path, url
        assert r["text"] == oracle.extract_document(
            url, payloads[url])["text"], url


def test_null_html_payload_yields_empty_document(spark):
    df = spark.createDataFrame([("u-null", None)], "url string, html binary")
    r = pipeline.extract(df).collect()[0]
    assert r["text"] == "" and r["spans"] == [] and r["n_pages"] == 0
    assert r["error"] is None  # empty, not failed


def test_document_json_byte_identity(spark, pages):
    """S9: the Spark-native to_json(struct(...)) Document column must be
    byte-identical to the pure-Python oracle.document_to_json — pinning
    Jackson-vs-json.dumps serialization (compact separators, raw UTF-8,
    nulls present, double formatting) across every corpus shape incl.
    CJK/emoji (H6), zero-page (H7), and multi-page bboxed P1 docs."""
    from ocr_module_spark.operators.extraction import document_json_col
    got = {r["url"]: r["j"] for r in
           pipeline.extract(pages)
           .select("url", document_json_col().alias("j")).collect()}
    for r in corpus.rows(N_DOCS):
        e = oracle.extract_document(r["url"], r["html"])
        assert got[r["url"]] == oracle.document_to_json(e), r["url"]


def test_document_json_adversarial_escaping(spark):
    """Jackson-vs-json.dumps byte identity on strings the corpus never
    contains: control chars (Jackson uses UPPERCASE hex escapes - pinned
    in oracle.document_to_json), quotes, backslashes (incl. a literal
    backslash followed by 'u001f', which must NOT be re-cased), DEL,
    U+2028/29, astral plane, lone high codepoints."""
    from ocr_module_spark.operators.extraction import document_json_col
    from ocr_module_spark.schemas import EXTRACT_SCHEMA

    adversarial = [
        'plain', 'quote " here', "back\\slash", "literal \\u001f text",
        'tab\there', 'nl\nhere', 'ctrl\x01\x02\x1f', 'del\x7f',
        'u2028   u2029  ', 'emoji \U0001F680 cjk 日本語',
        'nbsp \xa0', "apos ' and /", 'astral \U0010FFFF', '\x0b\x0c',
    ]
    rows, expected = [], {}
    for i, s in enumerate(adversarial):
        url = f"u{i}"
        span = {"paragraph_id": 0, "page_number": 0, "role": None,
                "bbox": [1.0, 2.25, 3.5, 4.0] if i % 2 else None,
                "content": s}
        sec = {"section_id": 0, "paragraph_ids": [0], "table_ids": [],
               "figure_ids": []}
        r = {"url": url, "text": s, "spans": [span], "sections": [sec],
             "n_pages": 1, "mismatch_flag": False}
        expected[url] = oracle.document_to_json(r)
        rows.append((url, s, [(0, 0, None, span["bbox"], s)],
                     [(0, [0], [], [])], 1, False, None))
    df = spark.createDataFrame(rows, EXTRACT_SCHEMA)
    got = {r["url"]: r["j"] for r in
           df.select("url", document_json_col().alias("j")).collect()}
    for url, exp in expected.items():
        assert got[url] == exp, (url, got[url], exp)
