"""Pinned Spark schemas (SURVEY.md §1.3 mapping, FIXTURES.md §1/§4/§5).

The reference declares its data model as Python dataclasses
(ocr_module/domain/entities/page_models.py, section_models.py); here the
same model is declared as explicit ``StructType``s — never inferred — so
every stage of the plan has a stable, documented shape.
"""

from __future__ import annotations

from pyspark.sql import types as T

# input table (BASELINE.json input_hint)
PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# intermediate node frame: one row per parsed block (FIXTURES.md §4);
# the relational analogue of the reference's Paragraph/Figure/Table entities
NODES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("page_number", T.IntegerType(), False),
    T.StructField("block_no", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("tag_path", T.StringType(), True),
    T.StructField("depth", T.IntegerType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("text_len", T.IntegerType(), False),
    T.StructField("link_text_len", T.IntegerType(), False),
    T.StructField("bbox", T.ArrayType(T.DoubleType()), True),
    T.StructField("section_id", T.IntegerType(), False),
    T.StructField("n_tokens", T.IntegerType(), False),
])

# sidecar inline payloads emitted by the parse (formula placeholders)
PAYLOADS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("page_number", T.IntegerType(), False),
    T.StructField("payload_pos", T.IntegerType(), False),
    T.StructField("latex", T.StringType(), True),
])

SPAN_TYPE = T.StructType([
    T.StructField("paragraph_id", T.IntegerType(), False),
    T.StructField("page_number", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("bbox", T.ArrayType(T.DoubleType()), True),
    T.StructField("content", T.StringType(), False),
])

SECTION_TYPE = T.StructType([
    T.StructField("section_id", T.IntegerType(), False),
    T.StructField("paragraph_ids", T.ArrayType(T.IntegerType()), False),
    T.StructField("table_ids", T.ArrayType(T.IntegerType()), False),
    T.StructField("figure_ids", T.ArrayType(T.IntegerType()), False),
])

# extraction output (FIXTURES.md §5) — `text` is the byte-identity surface
EXTRACT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_TYPE), False),
    T.StructField("sections", T.ArrayType(SECTION_TYPE), False),
    T.StructField("n_pages", T.IntegerType(), False),
    T.StructField("mismatch_flag", T.BooleanType(), False),
    # per-document failure isolation (reference: per-page fallback PDF,
    # usecase/translate_pdf.py:114-125; SURVEY §3.3 — never fail the job
    # for one document): NULL on success, exception text on failure
    T.StructField("error", T.StringType(), True),
])

# the extraction stage's output (pipeline.extract's one mapInArrow; its
# Arrow schema is derived from this): EXTRACT_SCHEMA + which parser
# produced the row ('fast' regex tokenizer, 'stdlib' html.parser fallback,
# 'blocklist' PDF-derived, 'empty', 'error') — consumed by the sink's
# observe() parse-path counters; dropped before the data is written
EXTRACT_TAGGED_SCHEMA = T.StructType(
    EXTRACT_SCHEMA.fields
    + [T.StructField("parse_path", T.StringType(), False)])
