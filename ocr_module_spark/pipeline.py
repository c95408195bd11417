"""The extraction pipeline, Spark-first.

Two equivalent expressions of the same semantics (tests assert they agree):

**Fast path** — ``extract(df)``: scan → (optional) salted repartition on
url host → one ``mapInArrow`` stage that runs the pure per-document oracle
(oracle.parse_payload + oracle.assemble_document) over Arrow batches and
emits the final EXTRACT_SCHEMA rows. Zero shuffles after the repartition;
parse, classify, id-assignment, placeholder alignment and span assembly all
pipeline inside one whole stage. This is the production plan: at 10^12
documents the work is embarrassingly parallel per document, so the
shuffle-free single-stage plan is strictly better than exploding nodes
across the cluster and re-grouping them.

**Relational path** — ``parse_nodes → classify_nodes → assign_ids →
rewrite_placeholders_df → assemble_text / sections_df / mismatch_df``:
the same semantics decomposed into real Spark operators (native column
expressions, window functions, joins, aggregations), one per SURVEY.md §2
inventory row. It exists to make every grafted operator individually
testable and plan-inspectable; large-scale runs use the fast path.

Reference citations for each grafted operator are in the per-function
docstrings below and in SURVEY.md §2.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator, Optional

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from . import oracle
from .classify import DROP_ROLES, MIN_TEXT_LEN
from .schemas import EXTRACT_TAGGED_SCHEMA, NODES_SCHEMA

# pandas only in annotations here: every Python worker that unpickles
# _extract_arrow imports this module, and pandas added ~0.3 s to that
if TYPE_CHECKING:
    import pandas as pd

SALT_BUCKETS = 8


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Derive the url host (native regexp — JVM-side, codegen'd).

    Scheme case-insensitive; no path required (``https://example.com`` and
    ``https://example.com?q=1`` both resolve); host ends at ``/``, ``?``,
    or ``#``.
    """
    return df.withColumn(
        "url_host", F.regexp_extract(
            F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))


def salted_repartition(df: DataFrame, num_partitions: Optional[int] = None,
                       salt_buckets: int = SALT_BUCKETS,
                       url_col: str = "url") -> DataFrame:
    """Explicit crawl-host skew handling (north_rule).

    Common-Crawl hosts are Zipf-skewed; partitioning by host alone would put
    ~20% of a crawl on one task. We shuffle on ``(host, salt)`` where
    ``salt = xxhash64(url) mod B`` — hosts stay mostly co-located (useful
    for politeness/locality-style downstream work) while the heaviest host
    spreads over B tasks. The reference's analogue is its longest-first
    scheduling sort (usecase/translate_section_formula_id.py:186-187 —
    SURVEY.md W4); salting is the distributed-native form.
    """
    d = with_host(df, url_col)
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    parts = [F.col("url_host"), salt]
    if num_partitions:
        return d.repartition(num_partitions, *parts).drop("url_host")
    return d.repartition(*parts).drop("url_host")


# ---------------------------------------------------------------------------
# fast path
# ---------------------------------------------------------------------------

def _extract_one(url, payload):
    """Per-document extraction with failure isolation: one hostile
    payload yields an error row, never a task failure (reference's
    per-page fallback artifact, translate_pdf.py:114-125). The row says
    which parser ran (``parse_path``, 'error' on failure)."""
    try:
        parsed = oracle.parse_payload(payload)
        r = oracle.assemble_document(url, parsed)
        r["error"] = None
        r["parse_path"] = parsed.path
        return r
    except Exception as exc:  # noqa: BLE001 - isolation boundary
        return {"url": url, "text": "", "spans": [], "sections": [],
                "n_pages": 0, "mismatch_flag": False,
                "error": f"{type(exc).__name__}: {exc}"[:500],
                "parse_path": "error"}


def _extract_arrow(batches):
    """The extraction stage's batch function: (url, html) RecordBatches in,
    EXTRACT_TAGGED_SCHEMA RecordBatches out, built directly with pa.array."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(EXTRACT_TAGGED_SCHEMA)
    for batch in batches:
        urls = batch.column("url").to_pylist()
        payloads = batch.column("html").to_pylist()
        res = [_extract_one(u, p) for u, p in zip(urls, payloads)]
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[f.name] for r in res], f.type) for f in schema],
            schema=schema)


def extract(pages: DataFrame, repartition: bool = False,
            num_partitions: Optional[int] = None,
            tag_parse_path: bool = False) -> DataFrame:
    """Full extraction, one Arrow-batched stage per partition.

    Runs the exact oracle per document (byte-identity by construction).
    With ``tag_parse_path`` the rows keep the ``parse_path`` column
    (EXTRACT_TAGGED_SCHEMA) for the sink's counters; otherwise it is
    projected away (EXTRACT_SCHEMA) — the same stage either way.

    ``repartition`` defaults to **False**: the parse is embarrassingly
    parallel per document, so the production plan is *scan-aligned* — the
    file-split boundaries of the parquet/Iceberg scan are already
    byte-balanced (``spark.sql.files.maxPartitionBytes``), and shuffling
    raw html bytes through the exchange just to rearrange them costs more
    than the parse itself (measured: 0.57 → 0.98 scaling efficiency at
    8→32 cores by removing it; BASELINE.md). Pass ``repartition=True``
    only when the *input layout itself* is pathologically skewed — e.g.
    ingesting per-host WARC dumps where one file holds one giant host —
    which re-spreads documents via the salted ``(host, salt)`` key. Keyed
    skew in downstream host-level aggregations is handled there, not here
    (see salted_repartition / q_salted_skew_agg).
    """
    from .deploy import ensure_pyfiles
    ensure_pyfiles(pages.sparkSession)
    df = pages.select("url", "html")
    if repartition or num_partitions:
        df = salted_repartition(df, num_partitions)
    out = df.mapInArrow(_extract_arrow, schema=EXTRACT_TAGGED_SCHEMA)
    return out if tag_parse_path else out.drop("parse_path")


# ---------------------------------------------------------------------------
# relational path: parse → classify → ids → alignment → assembly
# ---------------------------------------------------------------------------

def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import pandas as pd

    cols = [f.name for f in NODES_SCHEMA.fields]
    for pdf in batches:
        recs = []
        for url, payload in zip(pdf["url"], pdf["html"]):
            parsed = oracle.parse_payload(
                bytes(payload) if payload is not None else None)
            for b in parsed.blocks:
                recs.append((url, b.page_number, b.block_no, b.kind, b.role,
                             b.tag_path, b.depth, b.text, b.text_len,
                             b.link_text_len, b.bbox, b.section_id, b.n_tokens))
            for pos, (page, latex) in enumerate(parsed.payloads):
                recs.append((url, page, pos, "payload", None, None, None,
                             latex, 0, 0, None, 0, 0))
        yield pd.DataFrame.from_records(recs, columns=cols)


def parse_nodes(pages: DataFrame, repartition: bool = False) -> DataFrame:
    """Block detection as a UDTF-style explode (SURVEY.md P1): one document
    row in, one row per block out (plus ``kind='payload'`` sidecar rows for
    inline formula payloads). Reference: pymupdf_ocr_repository.py:195-198.
    """
    from .deploy import ensure_pyfiles
    ensure_pyfiles(pages.sparkSession)
    df = pages.select("url", "html")
    if repartition:
        df = salted_repartition(df)
    return df.mapInPandas(_parse_batches, schema=NODES_SCHEMA)


def classify_nodes(nodes: DataFrame) -> DataFrame:
    """Boilerplate classification as native column expressions (P2/P10).

    Exactly the classify.keep_block predicate, JVM-side: role dispatch
    (reference pylatex_generate_pdf_repository.py:100-112) + Arc90-style
    link-density cut. Stays inside whole-stage codegen — no Python.
    """
    is_block = F.col("kind") != "payload"
    keep = (
        F.when(F.col("kind") == "figure", F.lit(True))
        .when(F.col("kind") == "table", F.col("text_len") > 0)
        .otherwise(
            (~F.coalesce(F.col("role"), F.lit("")).isin(*sorted(DROP_ROLES)))
            & (F.col("text_len") >= MIN_TEXT_LEN)
            & (F.col("link_text_len") * 2 <= F.col("text_len"))
        )
    )
    return nodes.where(is_block).withColumn("keep", keep)


def assign_ids(classified: DataFrame) -> DataFrame:
    """Dense per-kind entity ids in reading order (W1).

    ``row_number`` over an explicit total order carried from the parser —
    never ``monotonically_increasing_id`` (reference running counters:
    azure_ocr_repository.py:339,377,428,481).
    """
    w = (W.partitionBy("url", "kind")
         .orderBy("page_number", "block_no"))
    return (classified.where(F.col("keep"))
            .withColumn("entity_id", F.row_number().over(w) - 1))


def rewrite_placeholders_df(paragraphs: DataFrame) -> DataFrame:
    """Placeholder alignment (W2 + J11): per-(url, page) running counter.

    The k-th ``:formula:`` token on a page becomes ``<formula_k/>``. The
    counter is a window prefix sum of per-paragraph token counts (the
    reference's ``current_formula_id`` loop, change_formula_id.py:50-64);
    the order-sensitive replace-first-N substitution itself runs in an
    Arrow-batched pandas UDF (regexp_replace would replace all — SURVEY.md
    §7.2 hard part (b)).
    """
    from .deploy import ensure_pyfiles
    ensure_pyfiles(paragraphs.sparkSession)
    w = (W.partitionBy("url", "page_number").orderBy("block_no")
         .rowsBetween(W.unboundedPreceding, -1))
    with_start = paragraphs.withColumn(
        "fml_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("int"))

    import pandas as pd

    def _rewrite(text, start):
        return pd.Series([
            oracle.rewrite_placeholders(t, int(s)) if t else t
            for t, s in zip(text, start)
        ])
    # the hints pandas_udf reads, as objects: postponed (string) hints
    # would name a pd that is not a module global
    _rewrite.__annotations__ = {"text": pd.Series, "start": pd.Series,
                                "return": pd.Series}
    _rewrite = F.pandas_udf(_rewrite, "string")

    return with_start.withColumn(
        "content",
        F.when(F.col("n_tokens") > 0, _rewrite("text", "fml_start"))
        .otherwise(F.col("text")))


def paragraph_spans(nodes: DataFrame) -> DataFrame:
    """Kept paragraphs with ids and aligned content — the spans surface."""
    paras = assign_ids(classify_nodes(nodes)).where(F.col("kind") == "paragraph")
    return (rewrite_placeholders_df(paras)
            .select("url", F.col("entity_id").alias("paragraph_id"),
                    "page_number", "block_no", "role", "bbox", "content"))


def assemble_text(spans: DataFrame) -> DataFrame:
    """Ordered span reassembly (F9/A2/W6): ``\\n``-joined kept paragraph
    contents in reading order, as a shuffle-once group aggregation
    (reference: change_formula_id.py:27-29).
    """
    ordered = F.array_sort(F.collect_list(
        F.struct("page_number", "block_no", "content")))
    return (spans.groupBy("url")
            .agg(F.array_join(
                F.transform(ordered, lambda x: x["content"]), "\n").alias("text")))


def sections_df(nodes: DataFrame) -> DataFrame:
    """Section membership resolution (J1-J3/A1): kept entity ids grouped by
    (url, section_id), ordered lists per kind — the reference's pointer
    dereference joins (azure_ocr_repository.py:504-659) as one aggregation.
    """
    ids = assign_ids(classify_nodes(nodes))
    def _ids_of(kind: str):
        lst = F.collect_list(F.when(F.col("kind") == kind,
                                    F.struct("block_no", "entity_id")))
        return F.transform(F.array_sort(lst), lambda x: x["entity_id"])
    return (ids.groupBy("url", "section_id")
            .agg(_ids_of("paragraph").alias("paragraph_ids"),
                 _ids_of("table").alias("table_ids"),
                 _ids_of("figure").alias("figure_ids"))
            .orderBy("url", "section_id"))


def mismatch_df(nodes: DataFrame) -> DataFrame:
    """Token-vs-payload audit per page → per-url flag (A5).

    Full outer join of kept-paragraph token sums against payload counts
    per (url, page) — the reference's per-page warning
    (azure_ocr_repository.py:236-240) as data, not logs.
    """
    paras = (assign_ids(classify_nodes(nodes))
             .where(F.col("kind") == "paragraph")
             .groupBy("url", "page_number")
             .agg(F.sum("n_tokens").alias("tok")))
    pay = (nodes.where(F.col("kind") == "payload")
           .groupBy("url", "page_number")
           .agg(F.count("*").alias("pay")))
    per_page = paras.join(pay, ["url", "page_number"], "full_outer").select(
        "url",
        (F.coalesce(F.col("tok"), F.lit(0)) != F.coalesce(F.col("pay"), F.lit(0))
         ).alias("page_mismatch"))
    return per_page.groupBy("url").agg(
        F.max("page_mismatch").alias("mismatch_flag"))


def extract_relational(pages: DataFrame) -> DataFrame:
    """The decomposed pipeline end-to-end, returning (url, text,
    mismatch_flag). Used by tests to certify that the relational operators
    reproduce the fast path byte-for-byte; ``extract`` is the production
    plan.
    """
    nodes = parse_nodes(pages)
    spans = paragraph_spans(nodes)
    text = assemble_text(spans)
    flags = mismatch_df(nodes)
    base = pages.select("url")
    return (base
            .join(text, "url", "left")
            .join(flags, "url", "left")
            .select("url",
                    F.coalesce(F.col("text"), F.lit("")).alias("text"),
                    F.coalesce(F.col("mismatch_flag"), F.lit(False))
                    .alias("mismatch_flag")))
