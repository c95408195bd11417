"""Resumable sink tests: idempotent resume, lineage manifest, counters
(north_rule: resumable from checkpoint with per-partition lineage +
metrics)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from ocr_module_spark import corpus, sinks


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="ocr_sink_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_resume_skips_committed_urls(spark, out_dir):
    pages = corpus.pages_df(spark, 120)
    m1 = sinks.run_extraction(spark, pages, out_dir)
    assert m1["docs_in"] == 120 and m1["docs_out"] == 120
    assert m1["bytes_in"] > 0 and m1["nodes_classified"] > 0

    m2 = sinks.run_extraction(spark, pages, out_dir)
    assert m2["docs_in"] == 0 and m2["docs_out"] == 0

    data = spark.read.parquet(os.path.join(out_dir, "data"))
    assert data.count() == 120
    assert data.select("url").distinct().count() == 120


def test_parse_path_counters(spark, out_dir):
    """Tokenizer-path observability: every doc is attributed to exactly one
    parser (or to docs_failed), the chromed HTML corpus takes the fast path
    with ZERO stdlib fallbacks (a fallback storm here means the fast subset
    regressed), and the written data does not carry the instrumentation
    column."""
    import json
    n = 160
    hostile = json.dumps({"format": "blocks", "pages": [
        {"width": "not-a-number", "height": 11.0,
         "blocks": [[0, 0, 1, 1, "x", 0, 0]]}]}).encode()
    extra = spark.createDataFrame(
        [("u-null", None), ("u-hostile", hostile)],
        "url string, html binary")
    pages = corpus.pages_df(spark, n).select("url", "html").unionByName(extra)
    m = sinks.run_extraction(spark, pages, out_dir)
    n_blocklist = sum(1 for i in range(n) if corpus.shape_for(i) == "P1")
    assert m["docs_parse_blocklist"] == n_blocklist
    assert m["docs_parse_fallback"] == 0
    assert m["docs_parse_fast"] == n - n_blocklist
    assert m["docs_parse_empty"] == 1 and m["docs_failed"] == 1
    assert (m["docs_parse_fast"] + m["docs_parse_fallback"]
            + m["docs_parse_blocklist"] + m["docs_parse_empty"]
            + m["docs_failed"]) == m["docs_out"] == n + 2
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    assert "parse_path" not in data.columns


def test_partial_failure_resume_processes_remainder(spark, out_dir):
    first = corpus.pages_df(spark, 50)
    sinks.run_extraction(spark, first, out_dir)
    everything = corpus.pages_df(spark, 80)
    m = sinks.run_extraction(spark, everything, out_dir)
    assert m["docs_in"] == 30  # only the 30 new urls
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    assert data.select("url").distinct().count() == 80


def test_manifest_lineage_rows(spark, out_dir):
    sinks.run_extraction(spark, corpus.pages_df(spark, 40), out_dir)
    manifest = os.path.join(out_dir, "_manifest")
    entries = [json.load(open(os.path.join(manifest, f)))
               for f in os.listdir(manifest) if f.endswith(".json")]
    assert len(entries) == 1
    e = entries[0]
    assert e["docs_in"] == 40 and e["docs_out"] == 40
    assert e["batch_id"] and e["wall_sec"] > 0
    # batch_id column ties each output row to its manifest entry
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    assert set(r["batch_id"] for r in data.select("batch_id").distinct()
               .collect()) == {e["batch_id"]}


def test_per_partition_lineage(spark, out_dir):
    """north_rule per-partition lineage: every row is stamped with the
    parse task's partition id, the manifest's n_partitions counter matches,
    and partition_lineage() reconstructs the per-(batch, partition)
    breakdown exactly from the data (no driver-side collection at commit
    time)."""
    n = 64
    m = sinks.run_extraction(spark, corpus.pages_df(spark, n), out_dir,
                             num_partitions=4)
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    assert "part_id" in data.columns
    lin = sinks.partition_lineage(spark, out_dir, batch_id=m["batch_id"])
    rows = {r["part_id"]: r for r in lin.collect()}
    # partition ids are the stage's 0..N-1; manifest counter agrees
    assert m["n_partitions"] >= len(rows) > 1
    assert all(0 <= p < m["n_partitions"] for p in rows)
    assert sum(r["docs"] for r in rows.values()) == n == m["docs_out"]
    assert sum(r["docs_failed"] for r in rows.values()) == m["docs_failed"]
    assert sum(r["docs_mismatched"] for r in rows.values()) \
        == m["docs_mismatched"]
    # bytes only when asked: the text column is not scanned by default
    lin_b = sinks.partition_lineage(spark, out_dir, m["batch_id"],
                                    include_bytes=True)
    assert sum(r["bytes_text"] for r in lin_b.collect()) \
        == m["bytes_text_out"]


def test_partition_lineage_per_batch_grain(spark, out_dir):
    """Two committed batches keep distinct lineage: batch_id × part_id is
    the grain, so a resume run's rows never blur into the first batch."""
    m1 = sinks.run_extraction(spark, corpus.pages_df(spark, 30), out_dir,
                              num_partitions=2)
    m2 = sinks.run_extraction(spark, corpus.pages_df(spark, 50), out_dir,
                              num_partitions=2)
    assert m2["docs_in"] == 20
    lin = sinks.partition_lineage(spark, out_dir).collect()
    by_batch = {}
    for r in lin:
        by_batch.setdefault(r["batch_id"], 0)
        by_batch[r["batch_id"]] += r["docs"]
    assert by_batch[m1["batch_id"]] == 30
    assert by_batch[m2["batch_id"]] == 20


def test_torn_write_not_counted_as_committed(spark, out_dir):
    """A data file without its manifest entry (torn write) must be
    re-processed, and the reader must be able to distinguish committed
    rows by batch_id."""
    sinks.run_extraction(spark, corpus.pages_df(spark, 30), out_dir)
    manifest = os.path.join(out_dir, "_manifest")
    for f in os.listdir(manifest):
        os.remove(os.path.join(manifest, f))  # simulate torn commit
    m = sinks.run_extraction(spark, corpus.pages_df(spark, 30), out_dir)
    assert m["docs_in"] == 30  # nothing counted as committed


# -- Iceberg sink switch (sandbox has no runtime jar: the SQL surface and
# -- dispatch are tested; the execution path is one --packages flag away) --

def test_iceberg_merge_sql_idempotent_shape():
    from ocr_module_spark import sinks
    sql = sinks.iceberg_merge_sql("lake.db.extracted")
    assert "MERGE INTO lake.db.extracted t" in sql
    assert "ON t.url = u.url" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    assert "WHEN MATCHED" not in sql  # never overwrite committed docs


def test_iceberg_create_sql_layout():
    from ocr_module_spark import sinks
    sql = sinks.iceberg_create_sql("lake.db.extracted")
    assert "CREATE TABLE IF NOT EXISTS lake.db.extracted" in sql
    assert "USING iceberg" in sql
    # SURVEY.md §4.2 layout: day pruning + url bucketing
    assert "PARTITIONED BY (days(warc_ts), bucket(256, url))" in sql
    for col in ("url string", "text string", "spans array", "error string",
                "batch_id string", "part_id int", "warc_ts timestamp"):
        assert col in sql, col


def test_iceberg_expire_sql():
    from ocr_module_spark import sinks
    sql = sinks.iceberg_expire_sql("lake.db.extracted", 7, 10)
    assert sql.startswith("CALL lake.system.expire_snapshots(")
    assert "retain_last => 10" in sql


def test_iceberg_sink_dispatch_and_jar_guard(spark, sf_dir):
    import pytest as _pytest
    from ocr_module_spark import corpus, sinks
    pages = corpus.pages_df(spark, 4)
    with _pytest.raises(ValueError, match="requires table="):
        sinks.run_extraction(spark, pages, "/tmp/x", sink="iceberg")
    with _pytest.raises(ValueError, match="unknown sink"):
        sinks.run_extraction(spark, pages, "/tmp/x", sink="delta")
    # no Iceberg runtime in this sandbox: must fail loud and actionable
    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        sinks.run_extraction(spark, pages, "/tmp/x", sink="iceberg",
                             table="lake.db.t")
