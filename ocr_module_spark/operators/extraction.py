"""Extraction-pipeline queries for the driver contract.

The extraction input (the ``pages`` table) is synthesized deterministically
by corpus.py — the DuckDB side cannot run the HTML parse, so each entry's
oracle is a GOLDEN-RESULT read: ``tools/gen_golden.py`` materializes the
pure-Python oracle's outputs (no Spark involved) into committed parquet
under ``golden/``, and the oracle SQL selects the slice whose
``corpus_tag`` matches the sf dir's orders-table row count (the one
driver-registered table whose count discriminates every sf). The driver's
side-by-side compare then checks the distributed pipeline against an
independent single-threaded computation of the same spec — on top of the
byte-identity pytest gate.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import corpus, pipeline

_N_BY_SF = {"sf0.001": 200, "sf0.01": 1000, "sf0.1": 16000}

_GOLDEN = pathlib.Path(__file__).resolve().parents[2] / "golden"


def _n_docs(sf_dir: str) -> int:
    return _N_BY_SF.get(os.path.basename(sf_dir.rstrip("/")), 500)


def _golden_sql(query: str, cols: str) -> str:
    """Static oracle SQL over the committed golden parquet; self-selects
    the sf slice via the orders-table count (see module docstring)."""
    return (
        f"SELECT {cols}\n"
        f"FROM read_parquet('{_GOLDEN / query}.parquet')\n"
        f"WHERE corpus_tag = (SELECT count(*) FROM orders)"
    )


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction (fast path) over the synthetic crawl;
    stable scalar projection of the result."""
    pages = corpus.pages_df(spark, _n_docs(sf_dir))
    out = pipeline.extract(pages)
    return out.select(
        "url",
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
        F.length("text").alias("text_len"),
        F.size("spans").alias("n_spans"),
        F.size("sections").alias("n_sections"),
        "n_pages", "mismatch_flag")


def q_extract_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-level relational path: parse → classify, rolled up per kind/role
    (block detection P1 + classification P2/P10 as inspectable rows)."""
    pages = corpus.pages_df(spark, _n_docs(sf_dir))
    nodes = pipeline.classify_nodes(pipeline.parse_nodes(pages))
    return (nodes.groupBy("kind", "role", "keep")
            .agg(F.count("*").alias("n_blocks"),
                 F.sum("text_len").alias("total_text_len")))


def q_extract_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section membership (J1-J3) over the synthetic crawl."""
    pages = corpus.pages_df(spark, _n_docs(sf_dir))
    secs = pipeline.sections_df(pipeline.parse_nodes(pages))
    return secs.select(
        "url", "section_id",
        F.size("paragraph_ids").alias("n_paragraphs"),
        F.size("table_ids").alias("n_tables"),
        F.size("figure_ids").alias("n_figures"))


def document_json_col() -> Column:
    """S9: the nested Document JSON as a NATIVE column expression over
    EXTRACT_SCHEMA output — ``to_json(struct(url, n_pages, mismatch_flag,
    pages, sections), ignoreNullFields=false)`` where ``pages`` regroups
    the flat spans per page with higher-order array functions (reference
    surface: Document.to_json, entities/__init__.py:40-48; byte-identity
    vs the pure-Python oracle.document_to_json is pytest-pinned). All
    JVM-side — at scale this serializes at scan speed with no Python.

    The sequence runs over greatest(n_pages, 1) and is sliced back to
    n_pages so a zero-page document yields a correctly-typed empty array
    (sequence(0, -1) would count downward)."""
    pages = F.slice(
        F.transform(
            F.sequence(F.lit(0),
                       F.greatest(F.col("n_pages"), F.lit(1)) - 1),
            lambda p: F.struct(
                p.alias("page_number"),
                F.filter(F.col("spans"),
                         lambda s: s["page_number"] == p)
                .alias("paragraphs"))),
        1, F.col("n_pages"))
    doc = F.struct(F.col("url"), F.col("n_pages"), F.col("mismatch_flag"),
                   pages.alias("pages"), F.col("sections"))
    return F.to_json(doc, {"ignoreNullFields": "false"})


def q_extract_document_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 driver query: per-url Document JSON, projected to a stable
    (sha256, length) pair so the golden oracle stays compact."""
    pages = corpus.pages_df(spark, _n_docs(sf_dir))
    out = pipeline.extract(pages)
    j = document_json_col()
    return out.select(
        "url",
        F.sha2(j.cast("binary"), 256).alias("json_sha256"),
        F.length(j).alias("json_len"))


REGIONS_SCHEMA = ("url string, page_number int, block_no int, "
                  "region_sha256 string, region_len int")


def q_extract_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 image-region extraction: every bboxed figure block (the
    PDF-derived P1 docs) yields a cropped region payload — computed
    inside the SAME Arrow parse stage that already holds the payload
    bytes (zero extra I/O; the reference re-opens the source per crop,
    pymupdf_image_extractor.py:33). The crop itself is the deterministic
    fake behind the codec seam (multimodal.extract_image_region); the
    query projects (sha256, length) of the region bytes so the golden
    oracle pins the bytes without committing them."""
    import hashlib

    import pandas as pd

    from ..deploy import ensure_pyfiles
    from ..functions.multimodal import extract_image_region
    from .. import oracle
    ensure_pyfiles(spark)
    pages = corpus.pages_df(spark, _n_docs(sf_dir))

    def batches(it):
        cols = ["url", "page_number", "block_no", "region_sha256",
                "region_len"]
        for pdf in it:
            recs = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                raw = bytes(payload) if payload is not None else None
                for b in oracle.parse_payload(raw).blocks:
                    if b.kind == "figure" and b.bbox is not None:
                        rb = extract_image_region(raw, b.page_number,
                                                  b.bbox)
                        recs.append((url, b.page_number, b.block_no,
                                     hashlib.sha256(rb).hexdigest(),
                                     len(rb)))
            yield pd.DataFrame.from_records(recs, columns=cols)

    return pages.select("url", "html").mapInPandas(
        batches, schema=REGIONS_SCHEMA)


REGION_FEATURES_SCHEMA = ("url string, page_number int, block_no int, "
                          "width int, height int, features array<double>")


def q_region_pixel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 region crops → features over DECODED PIXELS: the same in-stage
    crop as q_extract_regions, immediately decoded back through the
    stdlib PNG reader (functions/png.py) and reduced to the fixed
    pixel-feature vector (multimodal.decode_features — dims, page,
    per-channel means). Proves the media seam end-to-end with real
    image bytes: encode → container → decode → pixels → features, all
    inside ONE Arrow stage with zero extra I/O and zero shuffles. No SQL
    twin (PNG decode has no SQL form) — gated by
    tests/test_region_features.py recomputing rows through the
    pure-Python reference path."""
    import pandas as pd

    from ..deploy import ensure_pyfiles
    from ..functions.multimodal import decode_features, extract_image_region
    from .. import oracle
    ensure_pyfiles(spark)
    pages = corpus.pages_df(spark, _n_docs(sf_dir))

    def batches(it):
        cols = ["url", "page_number", "block_no", "width", "height",
                "features"]
        for pdf in it:
            recs = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                raw = bytes(payload) if payload is not None else None
                for b in oracle.parse_payload(raw).blocks:
                    if b.kind == "figure" and b.bbox is not None:
                        rb = extract_image_region(raw, b.page_number,
                                                  b.bbox)
                        f = decode_features(rb)
                        recs.append((url, b.page_number, b.block_no,
                                     int(f[0]), int(f[1]), f))
            yield pd.DataFrame.from_records(recs, columns=cols)

    return pages.select("url", "html").mapInPandas(
        batches, schema=REGION_FEATURES_SCHEMA)


def q_extract_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decomposed relational pipeline (parse → classify → window ids →
    placeholder alignment → grouped reassembly — one Spark operator per
    SURVEY §2 row) end-to-end; tests assert it matches the fast path
    byte-for-byte, this entry exposes it to the driver."""
    pages = corpus.pages_df(spark, _n_docs(sf_dir) // 2)
    out = pipeline.extract_relational(pages)
    return out.select(
        "url",
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
        F.length("text").alias("text_len"),
        "mismatch_flag")


REGISTRY = {
    "extract_text": (q_extract_text, _golden_sql(
        "extract_text",
        "url, text_sha256, text_len, n_spans, n_sections, n_pages, "
        "mismatch_flag")),
    "extract_relational": (q_extract_relational, _golden_sql(
        "extract_relational",
        "url, text_sha256, text_len, mismatch_flag")),
    "extract_nodes": (q_extract_nodes, _golden_sql(
        "extract_nodes",
        "kind, role, keep, n_blocks, total_text_len")),
    "extract_sections": (q_extract_sections, _golden_sql(
        "extract_sections",
        "url, section_id, n_paragraphs, n_tables, n_figures")),
    "extract_document_json": (q_extract_document_json, _golden_sql(
        "extract_document_json",
        "url, json_sha256, json_len")),
    "extract_regions": (q_extract_regions, _golden_sql(
        "extract_regions",
        "url, page_number, block_no, region_sha256, region_len")),
    "region_pixel_features": (q_region_pixel_features, None),
}
