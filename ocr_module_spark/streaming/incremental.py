"""Incremental (streaming) extraction over a landing directory.

The reference pipeline is batch-only (SURVEY.md §2.8): its only
"incremental" behavior is per-page/per-section thread fan-out
(usecase/translate_pdf.py:102-125). For continuous crawl ingestion the
Spark-native shape is:

* **source** — ``spark.readStream`` file source over the parquet landing
  dir (new files = new crawl batches); schema pinned to PAGES_SCHEMA, no
  inference at executors;
* **transform** — ``foreachBatch`` into the *same* batch transform stack
  (pipeline.extract → sinks.run_extraction): one code path for batch and
  streaming, the extraction itself stays one shuffle-free Arrow stage;
* **exactly-once** — the streaming checkpoint tracks which input files
  each epoch consumed, and run_extraction's url anti-join makes replayed
  epochs idempotent (two independent layers: offset tracking + idempotent
  sink — a torn foreachBatch cannot double-write);
* **metrics** — a watermarked tumbling-window aggregation over
  ``warc_ts`` (docs/bytes per window per lang) demonstrating late-data
  handling for monitor dashboards.

``trigger(availableNow=True)`` drains everything present then stops —
the cron-style incremental run a crawl pipeline actually schedules.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sinks
from ..schemas import PAGES_SCHEMA


def stream_pages(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream of pages batches (parquet files dropped into
    ``landing_dir``). maxFilesPerTrigger bounds per-epoch work so one
    giant drop cannot OOM an epoch."""
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .option("recursiveFileLookup", "true")  # batches land as dirs
            .parquet(landing_dir))


def run_incremental_extraction(spark: SparkSession, landing_dir: str,
                               out_dir: str,
                               checkpoint_dir: Optional[str] = None,
                               timeout_sec: int = 300) -> None:
    """Drain the landing dir through the batch extraction sink, then stop.

    Each epoch appends to ``out_dir`` through sinks.run_extraction, so the
    output carries the same per-batch lineage manifest and the same resume
    anti-join as batch runs — a file replayed by the checkpoint after a
    crash is deduplicated by url, not double-counted.
    """
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(out_dir, "_checkpoint")

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        sinks.run_extraction(batch_df.sparkSession, batch_df, out_dir)

    q = (stream_pages(spark, landing_dir).writeStream
         .foreachBatch(_epoch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(timeout_sec)
    q.stop()


def run_incremental_dedup(spark: SparkSession, landing_dir: str,
                          index_dir: str, decisions_dir: str,
                          checkpoint_dir: Optional[str] = None,
                          timeout_sec: int = 300) -> None:
    """Drain the landing dir through cross-snapshot dedup
    (functions/dedup.dedup_against_index), GROWING the signature index
    as it goes: each epoch's kept documents append their ~300-byte
    index rows to ``index_dir``, so later crawl batches dedup against
    earlier ones — and against whatever corpus snapshot seeded the
    index — without any corpus-text rescan.

    Per-epoch verdict needs an aggregation (best match per doc), which
    streaming append mode can't express statelessly — so this runs the
    BATCH operator per epoch via foreachBatch, the same one-code-path
    pattern as run_incremental_extraction. Crash/replay safety:
    ``exclude_self=True`` means a replayed epoch that already appended
    its own index rows reproduces identical decisions (a doc's own
    index row never flags it); replayed index appends only duplicate
    rows, which the any-match semantics tolerate (at scale, the index
    table gets the same snapshot/compaction treatment as any Iceberg
    table). Doc ids in this runner are urls (strings); seed the index
    from a corpus snapshot with string ids for the schemas to line up.
    """
    from ..functions.dedup import dedup_increment
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(decisions_dir, "_checkpoint")

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        docs = (batch_df.select(F.col("url").alias("doc_id"), "text")
                .localCheckpoint(eager=True))
        index = sinks.read_parquet_or_empty(   # first epoch: no index yet
            s, index_dir, "doc_id string, norm_md5 string, sig array<string>")
        dec, rows = dedup_increment(docs, index)
        (dec.withColumn("epoch", F.lit(epoch_id))
            .write.mode("append").parquet(decisions_dir + "/data"))
        rows.write.mode("append").parquet(index_dir)

    q = (stream_pages(spark, landing_dir).writeStream
         .foreachBatch(_epoch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(timeout_sec)
    q.stop()


DEDUP_OUT_SCHEMA = "fp string, url string, first_seen_epoch long"
DEDUP_STATE_SCHEMA = "seen int"


def stream_dedup_first_seen(pages_stream: DataFrame,
                            ttl_minutes: Optional[int] = None) -> DataFrame:
    """Streaming exact dedup with cross-batch state: the first document
    bearing each content fingerprint is emitted, every later duplicate —
    in the same epoch or any later one — is dropped. The custom stateful
    operator of §2.8, built on ``applyInPandasWithState``:

    * key = md5(payload) — state is ONE int per distinct fingerprint,
      sharded by the state-store partitioning; at 10^12 docs the state is
      bounded by distinct content, not rows, and a ``ttl_minutes``
      processing-time timeout bounds it further for open-ended streams
      (crawl dedup usually only needs a recency window);
    * within an epoch the winner is deterministic (min url), so replays
      reproduce the same survivor set;
    * exactly-once: state lives in the streaming checkpoint — a restarted
      query resumes knowing everything it already emitted.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = pages_stream.select(
        F.md5(F.coalesce(F.col("html"),
                         F.lit(b""))).alias("fp"),
        "url")

    def first_seen(key, pdfs, state: GroupState):
        import pandas as pd
        if ttl_minutes is not None and state.hasTimedOut:
            state.remove()
            return
        best = None
        for pdf in pdfs:
            if len(pdf):
                cand = pdf["url"].min()
                best = cand if best is None else min(best, cand)
        if best is not None and not state.exists:
            state.update((1,))
            if ttl_minutes is not None:
                state.setTimeoutDuration(ttl_minutes * 60 * 1000)
            yield pd.DataFrame(
                {"fp": [key[0]], "url": [best],
                 "first_seen_epoch": [0]})
        elif state.exists and ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if ttl_minutes is not None else GroupStateTimeout.NoTimeout)
    return (keyed.groupBy("fp")
            .applyInPandasWithState(first_seen, DEDUP_OUT_SCHEMA,
                                    DEDUP_STATE_SCHEMA, "append", timeout))


def stream_decon_flags(pages_stream: DataFrame,
                       bench_docs: DataFrame) -> DataFrame:
    """Streaming eval-set decontamination: every arriving page gets its
    contamination verdict against a STATIC benchmark table — the
    incremental form of functions/decontam.q_decon_ngram_flags, so a
    continuous crawl ingest can drop eval-overlapping pages before they
    ever land in the corpus.

    Shape: ZERO streaming state. The benchmark's distinct shingle set is
    pre-aggregated to a single-row static frame and joined in with a
    stream-static broadcast cross join (1 static row — the broadcast is
    the eval-bench-sized artifact a real pipeline ships to executors);
    the per-page verdict is then a pure projection
    (``array_intersect`` of the page's shingles against the benchmark
    array). Append mode, no watermark, no state store — each page is
    flagged the moment it arrives, and a replayed epoch reproduces
    identical flags (deterministic projection).

    The per-shingle equi-join of the batch operator is the right shape
    when the CORPUS side is 10^12 rows at rest; here the stream side is
    one micro-batch at a time and the benchmark side is small-static, so
    the broadcast-array projection is the cheaper plan (no shuffle per
    epoch at all).
    """
    from ..functions.decontam import contaminated
    from ..functions.dedup import shingle_sql_spark

    def shingled(df: DataFrame, *keep: str) -> DataFrame:
        # tokenize ONCE into w, then the shared shingle expr — the same
        # single definition the batch verifier and decontamination use
        # (dedup.shingle_sql_spark). It already gives [] for a page of
        # fewer than NGRAM_N words; NULL text gives NULL, and since
        # every page keeps its row here (no size(w) filter, unlike the
        # batch path) the coalesce turns that into [] -> 0 shingles
        d = df.withColumn("w", F.split(F.trim(F.col("text")), r"\s+"))
        sh = F.coalesce(F.expr(shingle_sql_spark()),
                        F.array().cast("array<string>"))
        return d.select(*keep, sh.alias("ss"))

    bench_arr = (shingled(bench_docs)
                 .select(F.explode("ss").alias("s"))
                 .distinct()
                 .agg(F.collect_list("s").alias("bench_ss")))
    flagged = (shingled(pages_stream, "url")
               .crossJoin(F.broadcast(bench_arr)))
    n_sh = F.size("ss").cast("long")
    n_hits = F.size(F.array_intersect("ss", "bench_ss")).cast("long")
    return flagged.select(
        "url",
        n_sh.alias("n_shingles"),
        n_hits.alias("n_hits"),
        contaminated(n_sh, n_hits)
        .alias("contaminated"))


def stream_crawl_metrics(pages_stream: DataFrame,
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window ingest metrics (docs, bytes per lang).

    Late pages beyond the watermark are dropped from the window state —
    bounded state at 10^12-row scale; emit to any sink in append mode.
    """
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "lang")
            .agg(F.count("*").alias("docs"),
                 F.sum(F.coalesce(F.length("html"), F.lit(0)))
                 .alias("bytes_in"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "lang", "docs", "bytes_in"))
