"""Resumable, metrics-instrumented extraction sink.

The north_rule requires: resumable from checkpoint with per-partition
lineage + counters. The reference has neither (its failure handling is a
per-page fallback PDF, usecase/translate_pdf.py:114-125); here both are
first-class:

* **Resume** — the sink is an idempotent append plus an anti-join: before
  processing, already-committed urls are removed from the input
  (``left_anti`` join against the sink's own url column). Re-running a
  partially-failed job processes only the remainder. On an Iceberg
  deployment the same logic is the snapshot-isolated ``MERGE``; the
  parquet fallback used in this sandbox keeps an explicit ``_manifest``
  directory of committed batch ids so a torn write is never counted.
* **Counters** — docs parsed, bytes tokenized (payload bytes in), nodes
  classified (spans out) via ``DataFrame.observe`` accumulated on the
  driver with zero extra passes.
* **Lineage** — two grains. Per-batch: one row per written batch in
  ``_manifest`` (batch id, counters, wall time, partition count).
  Per-partition: every output row carries ``part_id`` (the parse task's
  partition id, stamped in-stage at zero cost), so any row traces back to
  the exact task that produced it and ``partition_lineage()`` returns the
  per-(batch, partition) doc/failure/mismatch breakdown as a DataFrame —
  lineage stays *data* (column-pruned scan on demand), never a
  driver-side JSON blob, because a 10^12-doc batch has ~10^5 partitions
  and collecting that into the manifest would make the commit itself the
  bottleneck.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import pipeline


def observe(df: DataFrame, **aggs: Column
            ) -> Tuple[DataFrame, Callable[[], Dict[str, int]]]:
    """``df`` with the aggregates ``aggs`` observed on it, and
    ``counts()``: ``{name: int}`` for every keyword, to read once an
    action has run the returned frame. A NULL sum reads 0. When the
    observed plan held no rows (e.g. resume filtered the whole input),
    AQE can collapse it to an empty relation and the CollectMetrics row
    never materializes; Observation.get then fails JVM-side. Zero work
    → every counter 0.

    The node counts every time a plan runs it, and the Observation keeps
    only the first run: put it directly under the write or eager
    localCheckpoint that runs once (under a lazy checkpoint it reads
    0), never on a frame two branches consume. Spark rejects DISTINCT
    aggregates in observed metrics."""
    obs = Observation()
    out = df.observe(obs, *[c.alias(n) for n, c in aggs.items()])

    def counts() -> Dict[str, int]:
        try:
            got = obs.get
        except Exception:
            got = {}
        return {n: int(got.get(n) or 0) for n in aggs}
    return out, counts


def n_true(cond: Column) -> Column:
    """The number of rows where ``cond`` holds, as an aggregate."""
    return F.sum(cond.cast("long"))


def read_parquet_or_empty(spark: SparkSession, path: str,
                          empty_schema: Optional[str],
                          recursive: bool = False) -> Optional[DataFrame]:
    """``path``'s parquet data. Only when ``path`` holds no ``*.parquet``
    data file (a no-op write leaves none to infer a schema from) is the
    answer an empty ``empty_schema`` frame, or None without a schema.
    Any other read failure — a corrupt part file — propagates: an
    unreadable shard must never pass for an empty one."""
    pattern = (os.path.join(path, "**", "*.parquet") if recursive
               else os.path.join(path, "*.parquet"))
    if not glob.glob(pattern, recursive=recursive):
        if empty_schema is None:
            return None
        return spark.createDataFrame([], empty_schema)
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(path)


# ---------------------------------------------------------------------------
# Iceberg sink path (north_rule's named substrate)
#
# The sandbox has no iceberg-spark-runtime jar, so this path cannot
# execute here — but a real deployment is a config switch, not a rewrite:
#
#   spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>
#     --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog
#     --conf spark.sql.catalog.lake.type=hadoop
#     --conf spark.sql.catalog.lake.warehouse=<warehouse-uri>
#
# then run_extraction(..., sink="iceberg", table="lake.db.extracted").
# Resume/idempotence is snapshot-isolated MERGE (not an anti-join over a
# manifest); retention is expire_snapshots. The SQL below is generated by
# pure functions so it is unit-tested in-sandbox (tests/test_sink.py).
# ---------------------------------------------------------------------------

ICEBERG_TABLE_PROPS = {
    # layout per SURVEY.md §4.2: prune by crawl day, cluster by url
    "partitioning": "days(warc_ts), bucket(256, url)",
    "write.distribution-mode": "hash",
    "write.target-file-size-bytes": str(512 * 1024 * 1024),
}


def iceberg_merge_sql(table: str, updates_view: str = "_extract_updates") -> str:
    """Idempotent commit: insert only urls not already present — the
    Iceberg-native form of the manifest anti-join (one snapshot-isolated
    MERGE; a retried/duplicate batch is a no-op)."""
    return (
        f"MERGE INTO {table} t\n"
        f"USING {updates_view} u\n"
        f"ON t.url = u.url\n"
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def iceberg_expire_sql(table: str, older_than_days: int = 7,
                       retain_last: int = 10) -> str:
    """Snapshot retention (the reference's temp-file cleanup S8 maps to
    snapshot expiry — SURVEY.md §2.1)."""
    catalog = table.split(".")[0]
    return (
        f"CALL {catalog}.system.expire_snapshots("
        f"table => '{table}', "
        f"older_than => current_timestamp() - INTERVAL {older_than_days} DAYS, "
        f"retain_last => {retain_last})"
    )


def iceberg_create_sql(table: str) -> str:
    """CREATE TABLE IF NOT EXISTS with the EXTRACT_SCHEMA + batch lineage
    column and the hidden-partitioning layout."""
    from .schemas import EXTRACT_SCHEMA
    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in EXTRACT_SCHEMA.fields)
    props = ",\n  ".join(
        f"'{k}' = '{v}'" for k, v in ICEBERG_TABLE_PROPS.items()
        if k != "partitioning")
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        f"  {cols},\n  batch_id string, part_id int, warc_ts timestamp\n)\n"
        f"USING iceberg\n"
        f"PARTITIONED BY ({ICEBERG_TABLE_PROPS['partitioning']})\n"
        f"TBLPROPERTIES (\n  {props}\n)"
    )


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def run_extraction_iceberg(spark: SparkSession, pages: DataFrame,
                           table: str,
                           num_partitions: Optional[int] = None) -> Dict:
    """Extraction into an Iceberg table: create-if-absent, extract, MERGE
    (idempotent per url), same observe() counters as the parquet path.
    Raises a clear error when no Iceberg runtime is on the classpath
    (this sandbox) — the plan/SQL surface is still unit-tested."""
    if not _iceberg_available(spark):
        raise RuntimeError(
            "iceberg-spark-runtime is not on the classpath; add "
            "--packages org.apache.iceberg:iceberg-spark-runtime and the "
            "spark.sql.catalog.* conf (see sinks.py header), or use "
            "sink='parquet'")
    spark.sql(iceberg_create_sql(table))
    instrumented, in_counts = observe(
        pages, docs_in=F.count(F.lit(1)),
        bytes_in=F.sum(F.coalesce(F.length("html"), F.lit(0))))
    batch_id = uuid.uuid4().hex[:16]
    t0 = time.time()
    out = (pipeline.extract(instrumented, num_partitions=num_partitions)
           .withColumn("batch_id", F.lit(batch_id))
           .withColumn("part_id", F.spark_partition_id())
           .join(pages.select("url", "warc_ts"), "url", "left"))
    out.createOrReplaceTempView("_extract_updates")
    spark.sql(iceberg_merge_sql(table))
    metrics = {"batch_id": batch_id, "table": table,
               "wall_sec": round(time.time() - t0, 3), **in_counts()}
    return metrics


def partition_lineage(spark: SparkSession, out_dir: str,
                      batch_id: Optional[str] = None,
                      include_bytes: bool = False) -> DataFrame:
    """Per-partition lineage (north_rule): one row per (batch_id, part_id)
    with docs written, failures, and mismatches — derived from the sink's
    own ``part_id`` column, so it is exact for any historical batch and
    costs one column-pruned scan *only when asked for* (int/bool columns;
    the text payload is never read unless ``include_bytes``).

    Kept as a DataFrame rather than manifest JSON deliberately: at
    10^12-doc scale a batch spans ~10^5 partitions, and per-partition
    rows belong in the engine, not collected onto the driver at commit
    time. The manifest's ``n_partitions`` counter (free via observe) is
    the cheap cross-check that no partition's output went missing.
    """
    df = spark.read.parquet(os.path.join(out_dir, "data"))
    if batch_id is not None:
        df = df.where(F.col("batch_id") == batch_id)
    aggs = [
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("docs_failed"),
        F.sum(F.col("mismatch_flag").cast("long")).alias("docs_mismatched"),
    ]
    if include_bytes:
        aggs.append(F.sum(F.length("text")).alias("bytes_text"))
    return df.groupBy("batch_id", "part_id").agg(*aggs)


def committed_urls(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    data_dir = os.path.join(out_dir, "data")
    manifest = os.path.join(out_dir, "_manifest")
    if not os.path.isdir(manifest) or not os.path.isdir(data_dir):
        return None
    ok_batches = set()
    for f in os.listdir(manifest):
        if f.endswith(".json"):
            with open(os.path.join(manifest, f)) as fh:
                ok_batches.add(json.load(fh)["batch_id"])
    if not ok_batches:
        return None
    df = spark.read.parquet(data_dir)
    return df.where(F.col("batch_id").isin(*sorted(ok_batches))).select("url")


def run_extraction(spark: SparkSession, pages: DataFrame, out_dir: str,
                   num_partitions: Optional[int] = None,
                   sink: str = "parquet",
                   table: Optional[str] = None) -> Dict:
    """Extract pages → resumable sink. ``sink='parquet'`` (default, works
    everywhere): append at ``out_dir/data`` with the explicit ``_manifest``
    resume protocol. ``sink='iceberg'``: snapshot-isolated MERGE into
    ``table`` (requires the runtime jar — see run_extraction_iceberg).

    Returns the run's counter dict (also persisted in the manifest entry).
    """
    if sink == "iceberg":
        if not table:
            raise ValueError("sink='iceberg' requires table=")
        return run_extraction_iceberg(spark, pages, table, num_partitions)
    if sink != "parquet":
        raise ValueError(f"unknown sink {sink!r}")
    done = committed_urls(spark, out_dir)
    todo = pages
    if done is not None:
        # resume: skip documents already committed (SURVEY.md §7.1 step 7)
        todo = pages.join(done, "url", "left_anti")

    instrumented, in_counts = observe(
        todo, docs_in=F.count(F.lit(1)),
        bytes_in=F.sum(F.coalesce(F.length("html"), F.lit(0))))
    batch_id = uuid.uuid4().hex[:16]
    t0 = time.time()
    out = (pipeline.extract(instrumented, num_partitions=num_partitions,
                            tag_parse_path=True)
           .withColumn("batch_id", F.lit(batch_id))
           # per-partition lineage: stamp the parse task's partition id
           # in-stage (narrow, zero cost) — see partition_lineage()
           .withColumn("part_id", F.spark_partition_id()))
    path = F.col("parse_path")
    out, out_counts = observe(
        out,
        docs_out=F.count(F.lit(1)),
        n_partitions=F.max("part_id") + F.lit(1),
        nodes_classified=F.sum(F.size("spans")),
        bytes_text_out=F.sum(F.length("text")),
        docs_mismatched=n_true(F.col("mismatch_flag")),
        docs_failed=n_true(F.col("error").isNotNull()),
        # parse-path split (with docs_failed, every doc counted once):
        # at crawl scale a docs_parse_fallback jump is the earliest sign
        # the input drifted out of the fast subset (each fallback doc
        # parses ~1.5x slower)
        docs_parse_fast=n_true(path == "fast"),
        docs_parse_fallback=n_true(path == "stdlib"),
        docs_parse_blocklist=n_true(path == "blocklist"),
        docs_parse_empty=n_true(path == "empty"))
    out = out.drop("parse_path")
    data_dir = os.path.join(out_dir, "data")
    out.write.mode("append").parquet(data_dir)
    wall = time.time() - t0

    metrics = {"batch_id": batch_id, "wall_sec": round(wall, 3),
               **in_counts(), **out_counts()}

    manifest_dir = os.path.join(out_dir, "_manifest")
    os.makedirs(manifest_dir, exist_ok=True)
    tmp = os.path.join(manifest_dir, f".{batch_id}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(metrics, fh, indent=1)
    os.replace(tmp, os.path.join(manifest_dir, f"{batch_id}.json"))
    return metrics
