"""Host-level link graph: out-link harvest, graph build, centrality.

The web-curation stage the host-reputation rollup (hostrep.py) cannot
see: hostrep judges a host by its OWN documents, but crawl-quality
practice (Common Crawl publishes exactly this artifact — the host-level
webgraph — and CCNet/RefinedWeb-class pipelines consume link-based host
ranks) also judges a host by WHO LINKS TO IT. Spam farms interlink each
other; reputable hosts accumulate in-links from many unrelated hosts.
Three composable operators:

* HARVEST — :func:`extract_links`: one Arrow-batched stage over the
  pages table (url, html) → one row per ``<a href>`` anchor, resolved
  against the page URL (and ``<base href>`` when present, first one
  wins per the HTML spec), with the destination host normalized by the
  urls.py policy (lowercase, strip ``www.``, strip the scheme default
  port). Per-document, zero shuffles — the same scan-aligned shape as
  the extraction itself (pipeline.extract), and the shared pure-Python
  implementation (:func:`links_one`) is both the executor kernel and
  the pytest oracle, the repo's byte-identity discipline.

* GRAPH — :func:`host_link_graph`: one partial-aggregated groupBy
  (src_host, dst_host) over the harvest. Host-grain: at 10^12 documents
  the raw anchor stream is ~10^13 rows but the host graph is ~10^8-9
  edges (Common Crawl's published host webgraph is this size), so the
  groupBy's map-side combine is what makes the stage feasible — each
  scan partition emits its local (src,dst) counts, never raw anchors.

* RANK — :func:`host_centrality`: damped PageRank power iteration over
  the host graph in **fixed-point int64 arithmetic** (rank ×10^12,
  integer floor division everywhere), the same bit-determinism
  discipline as simsearch.train_ivf_centroids: ranks are EXACTLY equal
  across partitionings, retries, and engines, so the verdicts they
  gate are reproducible. Per round: one equi-join of the edge frame
  with the host-grain rank frame + one partial-agg groupBy on dst —
  no all-pairs, no driver-side graph. The dangling-host mass
  (hosts with no out-edges) is folded back uniformly each round via a
  broadcast 1-row aggregate, so total mass is conserved up to floor
  division and rank never leaks to a sink.

Update rule (all integer; d = damping ×1000, S = scale, n = |hosts|)::

    rank_0(h)   = S div n
    in_sum(h)   = sum over edges (s -> h) of  rank_t(s) div outdeg(s)
    dm          = sum of rank_t over hosts with outdeg = 0
    rank_t+1(h) = ((1000 - d) * (S div n)) div 1000
                  + (d * (in_sum(h) + dm div n)) div 1000

All terms are nonnegative, so Spark ``div`` (truncate), DuckDB ``//``
(floor) and Python ``//`` (floor) agree bit-for-bit; the int64 sums are
order-independent, so the result is partitioning-proof.

Reference tie: generalizes the reference's per-run usage counters
(ocr_module/service/ocr_service.py:60-74, SURVEY A6/A7) from run-grain
to graph-grain the same way hostrep.py generalized them to host-grain;
the role-dispatch precedent for gating on a model verdict is
pylatex_generate_pdf_repository.py:100-112.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterator, List, Optional, Tuple
from urllib.parse import urljoin

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DAMPING_X1000 = 850        # the classic 0.85, in integer permille
RANK_SCALE = 10 ** 12      # rank fixed point: total mass = RANK_SCALE
CENTRALITY_ROUNDS = 3      # default power-iteration rounds

_WS_RE = re.compile(r"\s+")
_HOST_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)")


def _dst_host(resolved: str) -> str:
    """Destination host under the urls.py canonicalization policy:
    lowercase, strip one leading ``www.``, strip the scheme default
    port. Empty string when the URL is not absolute http(s)."""
    scheme = resolved.split("://", 1)[0].lower() if "://" in resolved else ""
    if scheme not in ("http", "https"):
        return ""
    m = _HOST_RE.match(resolved)
    if not m:
        return ""
    host = m.group(1).lower()
    if host.startswith("www."):
        host = host[4:]
    default = ":80" if scheme == "http" else ":443"
    if host.endswith(default):
        host = host[: -len(default)]
    return host


class _LinkParser(HTMLParser):
    """Collect (href, anchor_text, nofollow) for every ``<a href>`` and
    honor the first ``<base href>``. A new ``<a>`` implicitly closes an
    open one (the HTML spec forbids nesting; real crawls contain it)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.base: Optional[str] = None
        self.links: List[Tuple[str, str, bool]] = []
        self._href: Optional[str] = None
        self._nofollow = False
        self._text: List[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            anchor = _WS_RE.sub(" ", "".join(self._text)).strip()
            self.links.append((self._href, anchor, self._nofollow))
        self._href, self._nofollow, self._text = None, False, []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._flush()
            href = rel = None
            for k, v in attrs:
                if k == "href" and href is None:
                    href = v
                elif k == "rel" and rel is None:
                    rel = v
            if href is not None:
                self._href = href
                self._nofollow = bool(
                    rel and "nofollow" in rel.lower().split())
        elif tag == "base" and self.base is None:
            for k, v in attrs:
                if k == "href" and v:
                    self.base = v
                    break

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag == "a":
            self._flush()

    def handle_data(self, data):
        if self._href is not None and data:
            self._text.append(data)

    def close(self):  # flush an anchor left open at EOF
        super().close()
        self._flush()


def links_one(url: str, payload: Optional[bytes]
              ) -> List[Tuple[str, str, str, bool]]:
    """Per-document link harvest (pure, deterministic, stdlib only —
    the executor kernel AND the pytest oracle, like oracle.py for the
    extraction). Returns ``[(dst_url, dst_host, anchor, nofollow)]`` in
    document order; relative hrefs resolve against ``<base href>`` when
    present else the page URL; only absolute http(s) results survive.
    A hostile payload yields [] (isolation boundary, never a task
    failure)."""
    if not payload:
        return []
    try:
        p = _LinkParser()
        p.feed(bytes(payload).decode("utf-8", errors="replace"))
        p.close()
        base = p.base if p.base is not None else url
        out = []
        for href, anchor, nofollow in p.links:
            try:
                resolved = urljoin(base, href.strip())
            except ValueError:
                continue
            host = _dst_host(resolved)
            if host:
                out.append((resolved, host, anchor, nofollow))
        return out
    except Exception:  # noqa: BLE001 - isolation boundary
        return []


def _links_arrow_batches(batches) -> Iterator:
    import pyarrow as pa
    schema = pa.schema([
        ("url", pa.string()), ("dst_url", pa.string()),
        ("dst_host", pa.string()), ("anchor", pa.string()),
        ("nofollow", pa.bool_())])
    for batch in batches:
        urls = batch.column("url").to_pylist()
        payloads = batch.column("html").to_pylist()
        rows = [(u, du, dh, a, nf)
                for u, p in zip(urls, payloads)
                for du, dh, a, nf in links_one(u, p)]
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in rows], schema.field(i).type)
             for i in range(len(schema))], schema=schema)


def extract_links(pages: DataFrame) -> DataFrame:
    """Out-link harvest: (url, src_host, dst_url, dst_host, anchor,
    nofollow, internal) — one Arrow stage, scan-aligned like
    pipeline.extract (no pre-shuffle: the harvest is embarrassingly
    parallel per document and the host grouping downstream shuffles
    host-grain counts, never anchors)."""
    from ..pipeline import with_host
    out = pages.select("url", "html").mapInArrow(
        _links_arrow_batches,
        "url string, dst_url string, dst_host string, "
        "anchor string, nofollow boolean")
    return (with_host(out, "url")
            .withColumnRenamed("url_host", "src_host")
            .select("url", "src_host", "dst_url", "dst_host", "anchor",
                    "nofollow",
                    (F.col("src_host") == F.col("dst_host"))
                    .alias("internal")))


def host_link_graph(links: DataFrame, drop_self: bool = True,
                    include_nofollow: bool = False) -> DataFrame:
    """(src_host, dst_host, n_links, n_pages) — the host-level webgraph.
    One partial-aggregated groupBy; self-edges dropped by default (they
    carry no reputation signal) and ``rel=nofollow`` anchors excluded
    (the author explicitly withheld endorsement)."""
    f = links.where(F.col("dst_host") != "")
    if not include_nofollow:
        f = f.where(~F.col("nofollow"))
    if drop_self:
        f = f.where(F.col("src_host") != F.col("dst_host"))
    return (f.groupBy("src_host", "dst_host")
            .agg(F.count("*").cast("long").alias("n_links"),
                 F.countDistinct("url").cast("long").alias("n_pages")))


def host_centrality(edges: DataFrame, rounds: int = CENTRALITY_ROUNDS,
                    damping_x1000: int = DAMPING_X1000,
                    scale: int = RANK_SCALE,
                    checkpoint: bool = True) -> DataFrame:
    """Damped PageRank over (src_host, dst_host) edges in fixed-point
    int64 (module docstring update rule) → (host, rank_x, in_hosts,
    out_hosts). Edges are UNWEIGHTED at host grain (one row per
    distinct pair, host_link_graph's output shape). ``checkpoint``
    truncates lineage each round (production default; parity demos run
    the unrolled lazy plan so both engines compare one expression)."""
    e = edges.select("src_host", "dst_host").distinct()
    if checkpoint:
        # truncate the harvest lineage ONCE: every downstream frame
        # (hosts, degrees, the per-round join) reads this
        # materialization instead of recomputing the edge derivation
        e = e.localCheckpoint(eager=True)
    hosts = (e.select(F.col("src_host").alias("host"))
             .unionByName(e.select(F.col("dst_host").alias("host")))
             .distinct())
    if checkpoint:
        hosts = hosts.localCheckpoint(eager=True)
    n = hosts.count()
    if n == 0:
        return hosts.select(
            "host", F.lit(0).cast("long").alias("rank_x"),
            F.lit(0).cast("long").alias("in_hosts"),
            F.lit(0).cast("long").alias("out_hosts"))
    outdeg = e.groupBy("src_host").agg(
        F.count("*").cast("long").alias("outdeg"))
    # one static edge frame carrying the src outdegree — every round
    # reuses it (checkpointed: the per-round join must not recompute
    # the harvest lineage)
    ew = e.join(outdeg, "src_host")
    if checkpoint:
        ew = ew.localCheckpoint(eager=True)
    dangling = hosts.join(
        ew.select(F.col("src_host").alias("host")).distinct(),
        "host", "left_anti")
    base = ((1000 - damping_x1000) * (scale // n)) // 1000
    rank = hosts.select(
        "host", F.lit(scale // n).cast("long").alias("rank_x"))
    for _ in range(rounds):
        dm = (rank.join(dangling, "host", "semi")
              .agg(F.coalesce(F.sum("rank_x"), F.lit(0))
                   .cast("long").alias("dm")))
        in_sum = (ew.join(rank.withColumnRenamed("host", "src_host"),
                          "src_host")
                  .groupBy(F.col("dst_host").alias("host"))
                  .agg(F.sum(F.expr("rank_x div outdeg"))
                       .cast("long").alias("in_sum")))
        rank = (hosts.join(in_sum, "host", "left")
                .crossJoin(F.broadcast(dm))
                .select("host", (F.lit(base) + F.expr(
                    f"({damping_x1000} * (coalesce(in_sum, 0)"
                    f" + dm div {n})) div 1000"))
                    .cast("long").alias("rank_x")))
        if checkpoint:
            rank = rank.localCheckpoint(eager=True)
    indeg = e.groupBy(F.col("dst_host").alias("host")).agg(
        F.count("*").cast("long").alias("in_hosts"))
    out_f = outdeg.select(F.col("src_host").alias("host"),
                          F.col("outdeg").alias("out_hosts"))
    return (rank.join(indeg, "host", "left").join(out_f, "host", "left")
            .select("host", "rank_x",
                    F.coalesce("in_hosts", F.lit(0)).cast("long")
                    .alias("in_hosts"),
                    F.coalesce("out_hosts", F.lit(0)).cast("long")
                    .alias("out_hosts")))


def centrality_py(edges: List[Tuple[str, str]],
                  rounds: int = CENTRALITY_ROUNDS,
                  damping_x1000: int = DAMPING_X1000,
                  scale: int = RANK_SCALE) -> dict:
    """Pure-Python twin of :func:`host_centrality` (same integer math,
    dict-based) — the bit-exactness gate for tests."""
    e = sorted(set((s, d) for s, d in edges))
    hosts = sorted({s for s, _ in e} | {d for _, d in e})
    n = len(hosts)
    if n == 0:
        return {}
    outdeg: dict = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = ((1000 - damping_x1000) * (scale // n)) // 1000
    rank = {h: scale // n for h in hosts}
    for _ in range(rounds):
        dm = sum(rank[h] for h in hosts if h not in outdeg)
        in_sum = {h: 0 for h in hosts}
        for s, d in e:
            in_sum[d] += rank[s] // outdeg[s]
        rank = {h: base + (damping_x1000 * (in_sum[h] + dm // n)) // 1000
                for h in hosts}
    return rank


# -- demo query + oracle (hostile-gate surface; registry is capped) ---------

_DEMO_ROUNDS = 3


def q_link_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-checkable demo of the centrality operator: a
    deterministic pseudo-edge set derived from the documents table
    (source of doc i endorses source of doc (7i+3) mod N — the even/odd
    device of q_dedup_incremental, giving both engines the same
    multi-component host graph with skewed degrees), then the exact
    production power iteration. Outside the driver window;
    parity-checked by tools/parity_check.py and the hostile gate."""
    from .textstats import _docs
    d = _docs(spark, sf_dir).select("doc_id", "source") \
        .where(F.col("source").isNotNull())
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    b = d.select(F.col("doc_id").alias("b_id"),
                 F.col("source").alias("dst_host"))
    # two generators: a permutation (7i+3) and a NON-bijective squish
    # (i^2+1) — the second folds many docs onto few targets, so the
    # derived graph has the skewed in-degrees real host graphs have
    dm = d.crossJoin(F.broadcast(mx))
    edges = (dm.withColumn("b_id", F.expr("(doc_id * 7 + 3) % m"))
             .unionByName(dm.withColumn(
                 "b_id", F.expr("(doc_id * doc_id + 1) % m")))
             .join(b, "b_id")
             .where(F.col("source") != F.col("dst_host"))
             .select(F.col("source").alias("src_host"), "dst_host"))
    return (host_centrality(edges, rounds=_DEMO_ROUNDS, checkpoint=False)
            .orderBy("host"))


def q_link_centrality_round_plan(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """One-round variant for the PLANS.md report: every round has the
    same physical shape (rank-into-edges equi-join + one partial-agg
    groupBy on dst + broadcast 1-row dangling fold-back), so the
    single-round plan IS the per-round production plan — the full
    3-round unrolled plan is ~2700 nodes of the same shape repeated."""
    from .textstats import _docs
    d = _docs(spark, sf_dir).select("doc_id", "source") \
        .where(F.col("source").isNotNull())
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    b = d.select(F.col("doc_id").alias("b_id"),
                 F.col("source").alias("dst_host"))
    edges = (d.crossJoin(F.broadcast(mx))
             .withColumn("b_id", F.expr("(doc_id * 7 + 3) % m"))
             .join(b, "b_id")
             .where(F.col("source") != F.col("dst_host"))
             .select(F.col("source").alias("src_host"), "dst_host"))
    return host_centrality(edges, rounds=1, checkpoint=True)


def _sql_link_centrality() -> str:
    d, s, k = DAMPING_X1000, RANK_SCALE, _DEMO_ROUNDS
    q = f"""
WITH d AS (
  SELECT doc_id, source FROM documents WHERE source IS NOT NULL
), mx AS (SELECT max(doc_id) + 1 AS m FROM d),
gen AS (
  SELECT doc_id, source, (doc_id * 7 + 3) % mx.m AS b_id FROM d, mx
  UNION ALL
  SELECT doc_id, source, (doc_id * doc_id + 1) % mx.m AS b_id FROM d, mx
), edges AS (
  SELECT DISTINCT a.source AS src_host, b.source AS dst_host
  FROM gen a JOIN d b ON b.doc_id = a.b_id
  WHERE a.source <> b.source
), hosts AS (
  SELECT src_host AS host FROM edges
  UNION SELECT dst_host FROM edges
), n AS (SELECT count(*)::BIGINT AS n FROM hosts),
outdeg AS (
  SELECT src_host, count(*)::BIGINT AS outdeg FROM edges GROUP BY src_host
), rank_0 AS (
  SELECT h.host, ({s} // n.n)::BIGINT AS rank_x FROM hosts h, n
)"""
    for r in range(k):
        q += f""", dm_{r} AS (
  SELECT coalesce(sum(r.rank_x), 0)::BIGINT AS dm
  FROM rank_{r} r LEFT JOIN outdeg o ON o.src_host = r.host
  WHERE o.src_host IS NULL
), in_{r} AS (
  SELECT e.dst_host AS host, sum(r.rank_x // o.outdeg)::BIGINT AS in_sum
  FROM edges e
  JOIN rank_{r} r ON r.host = e.src_host
  JOIN outdeg o ON o.src_host = e.src_host
  GROUP BY e.dst_host
), rank_{r + 1} AS (
  SELECT h.host,
         ((1000 - {d}) * ({s} // n.n)) // 1000
         + ({d} * (coalesce(i.in_sum, 0) + dm.dm // n.n)) // 1000
           AS rank_x
  FROM hosts h
  CROSS JOIN n CROSS JOIN dm_{r} dm
  LEFT JOIN in_{r} i ON i.host = h.host
)"""
    q += f"""
SELECT r.host, r.rank_x::BIGINT AS rank_x,
       coalesce(i.in_hosts, 0)::BIGINT AS in_hosts,
       coalesce(o.outdeg, 0)::BIGINT AS out_hosts
FROM rank_{k} r
LEFT JOIN (SELECT dst_host AS host, count(*)::BIGINT AS in_hosts
           FROM edges GROUP BY dst_host) i ON i.host = r.host
LEFT JOIN outdeg o ON o.src_host = r.host
ORDER BY r.host
"""
    return q


SQL_LINK_CENTRALITY = _sql_link_centrality()


ANCHOR_TOP_K = 8      # anchors kept per destination host


def host_anchor_texts(links: DataFrame, k: int = ANCHOR_TOP_K,
                      include_nofollow: bool = False,
                      cross_host_only: bool = True) -> DataFrame:
    """(dst_host, anchor, n_links, n_src_hosts, rnk) — the top-``k``
    in-link anchor strings per destination host: the classic web-search
    relevance signal, and in a pretraining pipeline the document-
    enrichment text ("what the web calls this page") that augments a
    host's own content. Consumes :func:`extract_links` output.

    Shape: one partial-aggregated groupBy(dst_host, anchor) — anchors
    shuffle once at (host, anchor) grain, never page content — then one
    per-host window over the aggregated frame (rows per host ≤ its
    distinct-anchor count, already reduced). Rank order (n_links DESC,
    n_src_hosts DESC, anchor ASC) is total — deterministic on both
    engines. Empty anchors and (by default) nofollow / same-host links
    are excluded: an anchor the author withheld endorsement from, or
    navigation a site says about itself, is not third-party evidence.
    """
    f = links.where((F.col("dst_host") != "") & (F.col("anchor") != ""))
    if not include_nofollow:
        f = f.where(~F.col("nofollow"))
    if cross_host_only:
        f = f.where(F.col("src_host") != F.col("dst_host"))
    agg = (f.groupBy("dst_host", "anchor")
           .agg(F.count("*").cast("long").alias("n_links"),
                F.countDistinct("src_host").cast("long")
                .alias("n_src_hosts")))
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_links").desc(), F.col("n_src_hosts").desc(),
        F.col("anchor").asc())
    return (agg.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def q_host_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-checkable demo: pseudo-links derived from the
    documents table (the q_link_centrality device — source of doc i
    endorses source of doc (7i+3) mod N), with the ANCHOR being doc
    i's first whitespace token lowercased and nofollow a doc_id
    stripe — then the exact production rollup."""
    from .textstats import _docs
    d = _docs(spark, sf_dir).select("doc_id", "source", "text") \
        .where(F.col("source").isNotNull()
               & F.col("text").isNotNull()
               & (F.length(F.trim("text")) > 0))
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    b = d.select(F.col("doc_id").alias("b_id"),
                 F.col("source").alias("dst_host"))
    links = (d.crossJoin(F.broadcast(mx))
             .withColumn("b_id", F.expr("(doc_id * 7 + 3) % m"))
             .join(b, "b_id")
             .select(F.col("source").alias("src_host"), "dst_host",
                     F.lower(F.element_at(
                         F.split(F.trim("text"), r"\s+"), 1))
                     .alias("anchor"),
                     (F.col("doc_id") % 5 == 0).alias("nofollow")))
    return host_anchor_texts(links).orderBy("dst_host", "rnk")


SQL_HOST_ANCHORS = f"""
WITH d AS (
  SELECT doc_id, source, text FROM documents
  WHERE source IS NOT NULL AND text IS NOT NULL
    AND length(trim(text)) > 0
), mx AS (SELECT max(doc_id) + 1 AS m FROM d),
links AS (
  SELECT a.source AS src_host, b.source AS dst_host,
         lower(string_split_regex(trim(a.text), '\\s+')[1]) AS anchor,
         (a.doc_id % 5 = 0) AS nofollow
  FROM d a, mx JOIN d b ON b.doc_id = (a.doc_id * 7 + 3) % mx.m
), agg AS (
  SELECT dst_host, anchor, count(*)::BIGINT AS n_links,
         count(DISTINCT src_host)::BIGINT AS n_src_hosts
  FROM links
  WHERE dst_host <> '' AND anchor <> '' AND NOT nofollow
    AND src_host <> dst_host
  GROUP BY dst_host, anchor
), rnk AS (
  SELECT *, row_number() OVER (
      PARTITION BY dst_host
      ORDER BY n_links DESC, n_src_hosts DESC, anchor ASC) AS rnk
  FROM agg
)
SELECT dst_host, anchor, n_links, n_src_hosts, rnk
FROM rnk WHERE rnk <= {ANCHOR_TOP_K}
"""


REGISTRY = {
    "host_link_centrality": (q_link_centrality, SQL_LINK_CENTRALITY),
    "host_anchor_texts": (q_host_anchors, SQL_HOST_ANCHORS),
}
