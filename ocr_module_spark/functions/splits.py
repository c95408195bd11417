"""Leakage-safe train/validation/test splits, grouped by host.

Splitting a web corpus by document id leaks: near-duplicate pages from
one host (templates, re-serves, revisions) straddle the split boundary,
so the eval set scores documents the model effectively trained on. The
standard fix is to split on the GROUP key — every document of a host
lands in the same split, so within-host near-dups can never straddle.

The split is a pure hash projection, never an RNG draw:

    bucket = hex4(md5(coalesce(host, ''))) % 1000
    split  = test  if bucket < SPLIT_TEST_PERMILLE
             val   if bucket < SPLIT_TEST_PERMILLE + SPLIT_VAL_PERMILLE
             train otherwise

* stateless and engine-portable (the shared md5-hex4 arithmetic of
  ``hashing.py``) — the same corpus yields the same split across runs,
  retries, parallelism levels, and engines, and a NEW crawl snapshot
  keeps every known host in its old split (no eval contamination as the
  corpus grows — the property id-hashed or RNG splits both lose);
* leakage-safe by construction: the split label is a function of the
  group key alone, so a group cannot straddle (asserted as an invariant
  test, and visible in the rollup — per-split distinct-group counts sum
  to the corpus's total distinct groups);
* scale shape: the assignment is a zero-shuffle scan-speed projection;
  the rollup is ONE partial-aggregated groupBy to 3 rows. No windows,
  no joins, no Python.

NULL host coalesces to ``''`` (one deterministic group) on both
engines. Reference tie: generalizes the run-level usage counters split
of ``sinks.py`` (SURVEY A6/A7) to the corpus-curation axis; the hash
discipline is ``textstats.q_sample_stratified_hash``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .hashing import hex4_col, hex4_sql_duck
from .textstats import _docs, _words

SPLIT_TEST_PERMILLE = 10      # 1% of groups
SPLIT_VAL_PERMILLE = 20       # next 2% of groups


def split_expr(group_col: str = "source"):
    """Split-label Column (train / val / test) from the group key."""
    h = F.pmod(
        hex4_col(F.md5(F.coalesce(F.col(group_col), F.lit(""))
                       .cast("binary"))),
        F.lit(1000))
    return (F.when(h < SPLIT_TEST_PERMILLE, "test")
            .when(h < SPLIT_TEST_PERMILLE + SPLIT_VAL_PERMILLE, "val")
            .otherwise("train"))


def split_assignments(docs: DataFrame,
                      group_col: str = "source") -> DataFrame:
    """All input columns plus ``split`` — the doc-grain frame the
    curation chain filters on (train-only packing, held-out eval).
    Zero shuffles: a scan-speed projection."""
    return docs.withColumn("split", split_expr(group_col))


def q_split_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: per-split corpus accounting over ``documents`` —
    (split, n_docs, n_groups, n_tokens). ``n_groups`` summing to the
    corpus's distinct-host total IS the no-straddle proof (each group
    counted under exactly one split)."""
    d = _docs(spark, sf_dir).withColumn("w", _words())
    return (d.select(split_expr().alias("split"),
                     F.coalesce(F.col("source"), F.lit("")).alias("g"),
                     F.coalesce(F.size("w"), F.lit(0)).cast("long")
                     .alias("nt"))
            .groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.countDistinct("g").cast("long").alias("n_groups"),
                 F.sum("nt").cast("long").alias("n_tokens")))


_H = hex4_sql_duck("md5(coalesce(source, ''))")

SQL_SPLIT_ROLLUP = f"""
WITH d AS (
  SELECT coalesce(source, '') AS g,
         CASE WHEN {_H} % 1000 < {SPLIT_TEST_PERMILLE} THEN 'test'
              WHEN {_H} % 1000 < {SPLIT_TEST_PERMILLE + SPLIT_VAL_PERMILLE}
                THEN 'val'
              ELSE 'train' END AS split,
         coalesce(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\\s+'))
                  END, 0) AS nt
  FROM documents
)
SELECT split, count(*)::BIGINT AS n_docs,
       count(DISTINCT g)::BIGINT AS n_groups,
       CAST(sum(nt) AS BIGINT) AS n_tokens
FROM d GROUP BY split
"""


def split_leakage_frame(docs: DataFrame,
                        group_col: str = "source") -> DataFrame:
    """Cluster-grain leakage measurement: the host-keyed split makes
    WITHIN-host near-dups unable to straddle by construction, but
    cross-host near-dups (mirrors, syndicated articles, scraped
    re-posts) still can — this joins the near-dup clusters (the same
    LSH → connected-components labels the dedup keep-list uses) against
    the split labels and reports, per cluster, how many splits its
    members span. 'Measure, don't guess' for the split boundary.

    Scale shape: the label frame is |clustered docs| rows (tiny vs the
    corpus); the split join is one equi-join on doc_id; the rollup is a
    partial-aggregated groupBy on the cluster label. Nothing beyond
    what the keep-list chain already shuffles."""
    from .dedup import cc_labels, lsh_edges_frame
    labels = cc_labels(lsh_edges_frame(docs))
    lab = labels.join(
        split_assignments(docs, group_col)
        .select(F.col("doc_id").alias("node"), "split"), "node")
    return (lab.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.countDistinct("split").cast("long").alias("n_splits")))


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: one-row rollup — (n_clusters,
    n_straddling_clusters, n_docs_straddling). A non-zero straddle
    count is the actionable signal: route those clusters' docs to one
    split (or drop them from eval) before training."""
    per = split_leakage_frame(_docs(spark, sf_dir))
    z = F.lit(0).cast("long")
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.coalesce(F.sum(F.when(F.col("n_splits") > 1, 1)), z)
        .cast("long").alias("n_straddling_clusters"),
        F.coalesce(F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs"))),
                   z).cast("long").alias("n_docs_straddling"))


def split_repair_assignments(docs: DataFrame,
                             group_col: str = "source") -> DataFrame:
    """The ACTION half of the leakage audit: every document's final
    split, with near-dup clusters that straddle splits re-routed to ONE
    split — the split of the cluster's canonical (min doc_id) member,
    the same deterministic canonical the dedup keep-list elects. Docs in
    no cluster keep their host-hash split. Output: ``(doc_id, split,
    split_repaired)`` — the flag marks docs whose split changed, so an
    eval pipeline can also choose to DROP repaired docs instead of
    trusting them (routing into train is safe; routing into eval is a
    policy call).

    Scale shape: cluster labels are the keep-list chain's own
    LSH → CC frame (|clustered docs| rows); the canonical-split map is
    one min_by aggregation at cluster grain; docs get their verdict via
    one LEFT equi-join on doc_id. Nothing beyond the keep-list's
    shuffles."""
    from .dedup import cc_labels, lsh_edges_frame
    labels = cc_labels(lsh_edges_frame(docs))
    base = split_assignments(docs, group_col).select("doc_id", "split")
    lab = labels.join(base.withColumnRenamed("doc_id", "node"), "node")
    canon = (lab.groupBy("label")
             .agg(F.min_by("split", F.col("node")).alias("canon_split")))
    routed = (lab.join(canon, "label")
              .select(F.col("node").alias("doc_id"),
                      F.col("canon_split").alias("forced")))
    return (base.join(routed, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("forced", F.col("split")).alias("split"),
                    F.coalesce(F.col("forced") != F.col("split"),
                               F.lit(False)).alias("split_repaired")))


def q_split_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: repaired split rollup — (split, n_docs,
    n_repaired). After repair, re-running the leakage audit on these
    labels returns zero straddling clusters (test-pinned)."""
    rep = split_repair_assignments(_docs(spark, sf_dir))
    return (rep.groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("split_repaired"), 1).otherwise(0))
                 .cast("long").alias("n_repaired")))


def _sql_leakage() -> str:
    from .dedup import CC_ROUNDS, SQL_DEDUP_CC_CLUSTERS
    base = SQL_DEDUP_CC_CLUSTERS.rsplit("\nSELECT", 1)[0]
    return base + f""",
sp AS (
  SELECT doc_id,
         CASE WHEN {_H} % 1000 < {SPLIT_TEST_PERMILLE} THEN 'test'
              WHEN {_H} % 1000 < {SPLIT_TEST_PERMILLE + SPLIT_VAL_PERMILLE}
                THEN 'val'
              ELSE 'train' END AS split
  FROM documents
), per AS (
  SELECT l.label, count(*) AS n_docs,
         count(DISTINCT s.split) AS n_splits
  FROM l{CC_ROUNDS} l JOIN sp s ON l.node = s.doc_id
  GROUP BY l.label
)
SELECT count(*)::BIGINT AS n_clusters,
       coalesce(sum(CASE WHEN n_splits > 1 THEN 1 END), 0)::BIGINT
         AS n_straddling_clusters,
       coalesce(sum(CASE WHEN n_splits > 1 THEN n_docs END), 0)::BIGINT
         AS n_docs_straddling
FROM per
"""


SQL_SPLIT_LEAKAGE_AUDIT = _sql_leakage()


def _sql_repair() -> str:
    from .dedup import CC_ROUNDS, SQL_DEDUP_CC_CLUSTERS
    base = SQL_DEDUP_CC_CLUSTERS.rsplit("\nSELECT", 1)[0]
    return base + f""",
sp AS (
  SELECT doc_id,
         CASE WHEN {_H} % 1000 < {SPLIT_TEST_PERMILLE} THEN 'test'
              WHEN {_H} % 1000 < {SPLIT_TEST_PERMILLE + SPLIT_VAL_PERMILLE}
                THEN 'val'
              ELSE 'train' END AS split
  FROM documents
), lab AS (
  SELECT l.label, l.node, s.split
  FROM l{CC_ROUNDS} l JOIN sp s ON l.node = s.doc_id
), canon AS (
  SELECT label, arg_min(split, node) AS canon_split
  FROM lab GROUP BY label
), routed AS (
  SELECT lab.node AS doc_id, canon.canon_split
  FROM lab JOIN canon USING (label)
), final AS (
  SELECT s.doc_id,
         coalesce(r.canon_split, s.split) AS split,
         coalesce(r.canon_split <> s.split, false) AS repaired
  FROM sp s LEFT JOIN routed r ON s.doc_id = r.doc_id
)
SELECT split, count(*)::BIGINT AS n_docs,
       CAST(sum(CASE WHEN repaired THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repaired
FROM final GROUP BY split
"""


SQL_SPLIT_REPAIR = _sql_repair()


REGISTRY = {
    "curate_split": (q_split_rollup, SQL_SPLIT_ROLLUP),
    "curate_split_leakage": (q_split_leakage_audit,
                             SQL_SPLIT_LEAKAGE_AUDIT),
    "curate_split_repair": (q_split_repair, SQL_SPLIT_REPAIR),
}
