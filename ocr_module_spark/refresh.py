"""Crawl-refresh orchestration: the monthly-snapshot operational loop.

Common-Crawl-style corpora arrive as snapshots; the expensive mistake
at 10^12 documents is re-running ANYTHING over the ~90% of pages that
did not change. This module composes the engine's incremental pieces
into that loop, one epoch per snapshot:

    1. fingerprint the new snapshot   (url, md5(html)) — 48 B/doc
    2. diff against the stored prior  (snapshots.snapshot_diff —
       added / removed / changed / unchanged, one equi-join exchange)
    3. re-extract ONLY added+changed  (sinks.run_extraction into a
       per-epoch sink dir: same lineage manifests, same resume
       anti-join within the epoch)
    4. tombstone removed urls         (per-epoch parquet)
    5. dedup the fresh docs against the cross-snapshot signature index
       (dedup.dedup_increment, exclude_self — torn-epoch
       idempotent) and append their index rows
    6. commit: overwrite the fingerprint table (the diff's new side),
       then write the epoch's ``_refresh_complete.json`` marker (the
       commit point)

``refresh_corpus`` is the reader: per-epoch extraction outputs collapse
to the LATEST revision per url (greatest-epoch struct — one shuffle of
doc-grain rows) with tombstones honored epoch-aware (a url removed in
epoch 3 and re-added in epoch 5 is alive). This parquet-epoch layout is
the sandbox twin of ONE Iceberg ``MERGE INTO`` per refresh
(sinks.iceberg_merge_sql) plus snapshot expiry; the layout changes,
the dataflow — diff, route, merge-on-key — does not.

Crash recovery: every step is either per-epoch-overwrite (decisions,
index shard, tombstones), run_extraction-resumable (the extraction
sink's own anti-join), or last-write-wins (the fingerprint table,
written at the very end). An epoch directory without its
``_refresh_complete.json`` marker is a torn refresh — the next run
REUSES that epoch id and replays it to the identical state
(test-pinned), never leaving a half-applied snapshot behind.

Scale notes: the diff and fingerprint frames are ~48 B/doc; extraction
work is proportional to |added| + |changed|, dedup work to the same
(the index is ~0.3% of corpus bytes and the stored text is never
rescanned). The snapshot's html is hashed once: the diff is
materialized once, and the committed fingerprint table is its new
side, not a second projection of the snapshot. The fresh docs'
signatures are built once per epoch; the probe reads them and the
index shard is their kept rows. Every counter comes from ``observe`` on
a checkpoint or a write the epoch performs anyway — no ``count()`` or
``collect()`` pass. ``compact_index`` (dedup.compact_dedup_index +
tombstone anti-join) runs BETWEEN refreshes, exactly like Iceberg
OPTIMIZE.

Reference tie: the reference's resume seam is per-document existence
checks against its store (ocr_module usecase flow); this is that idea
at snapshot grain, where existence alone is not enough — content
fingerprints decide re-processing.

Gate: tests/test_refresh.py — the incremental==from-scratch invariant
(refresh_corpus text byte-identical to a full extraction of the live
snapshot, every epoch), exact diff counters, work proportionality,
idempotent re-run, torn-refresh replay, tombstone/re-add liveness,
index hygiene after compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sinks
from .functions.dedup import compact_dedup_index, dedup_increment
from .functions.snapshots import snapshot_diff

_MARKER = "_refresh_complete.json"
_STATUSES = ("added", "removed", "changed", "unchanged")


def snapshot_fingerprints(pages: DataFrame) -> DataFrame:
    """(url, fp): md5 of the raw html bytes — the 48 B/doc change
    detector. NULL html stays a NULL fp; the diff's null-safe equality
    treats two NULL-html revisions of a url as unchanged."""
    return pages.select("url", F.md5("html").alias("fp"))


def _epoch_dirs(state_dir: str) -> list:
    root = os.path.join(state_dir, "epochs")
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if d.startswith("e"))


def _next_epoch(state_dir: str) -> int:
    """Next epoch id — or the LAST one again if its commit marker is
    missing (a torn refresh is replayed, not abandoned)."""
    dirs = _epoch_dirs(state_dir)
    if not dirs:
        return 0
    last = int(dirs[-1][1:])
    marker = os.path.join(state_dir, "epochs", dirs[-1], _MARKER)
    return last if not os.path.exists(marker) else last + 1


def refresh(spark: SparkSession, pages_new: DataFrame, state_dir: str,
            num_partitions: Optional[int] = None) -> Dict:
    """Run one snapshot refresh; returns the epoch's counter dict (also
    persisted as the epoch's commit marker)."""
    epoch = _next_epoch(state_dir)
    edir = os.path.join(state_dir, "epochs", f"e{epoch:06d}")
    fp_dir = os.path.join(state_dir, "fingerprints")

    new_fp = snapshot_fingerprints(pages_new)
    old_fp = sinks.read_parquet_or_empty(spark, fp_dir,
                                         "url string, fp string")
    # materialize the diff before anything overwrites its inputs; the
    # status counts ride on the same pass
    diff, diff_counts = sinks.observe(
        snapshot_diff(old_fp, new_fp, key="url"),
        **{f"docs_{s}": sinks.n_true(F.col("status") == s)
           for s in _STATUSES})
    diff = diff.localCheckpoint(eager=True)
    counters: Dict = {"epoch": epoch, **diff_counts()}

    # 3. re-extract only what the diff routed (added + changed); the
    # epoch sink keeps run_extraction's own lineage + resume semantics
    todo = pages_new.join(
        diff.where(F.col("status").isin("added", "changed"))
        .select("url"), "url")
    metrics = sinks.run_extraction(spark, todo, edir,
                                   num_partitions=num_partitions)
    for k in ("docs_in", "docs_out", "docs_failed", "wall_sec"):
        if k in metrics:
            counters[f"extract_{k}"] = metrics[k]

    # 4. tombstones (per-epoch overwrite: replay-idempotent)
    diff.where("status = 'removed'").select("url") \
        .write.mode("overwrite").parquet(os.path.join(edir, "removed"))

    # 5. incremental dedup of the fresh docs against the index
    # (dedup.dedup_increment); the epoch's decisions and index shard are
    # per-epoch overwrites, and exclude_self keeps a replayed epoch's
    # decisions identical even after its own index shard landed. A
    # no-op epoch (nothing added or changed) wrote no parquet part
    # files and reads as an empty frame: nothing to dedup
    docs = _read_epoch_docs(spark, edir)
    dec, rows = dedup_increment(docs, _read_index(spark, state_dir))
    dec, dec_counts = sinks.observe(
        dec.withColumn("epoch", F.lit(epoch)),
        dedup_docs=F.count(F.lit(1)),
        dedup_exact=sinks.n_true(F.col("exact_dup")),
        dedup_near=sinks.n_true(F.col("near_dup")),
        dedup_kept=sinks.n_true(F.col("keep")))
    dec.write.mode("overwrite").parquet(
        os.path.join(state_dir, "decisions", f"e{epoch:06d}"))
    counters.update(dec_counts())
    shard, shard_counts = sinks.observe(
        rows.withColumn("epoch", F.lit(epoch)),
        index_rows_appended=F.count(F.lit(1)))
    shard.write.mode("overwrite").parquet(
        os.path.join(state_dir, "index", f"e{epoch:06d}"))
    counters.update(shard_counts())

    # 6. commit: fingerprints last-write-wins — the diff's new side, so
    # the snapshot's html is hashed once — then the marker
    fps = diff.where("status != 'removed'") \
        .select("url", F.col("fp_new").alias("fp"))
    fps.write.mode("overwrite").parquet(fp_dir)
    with open(os.path.join(edir, _MARKER), "w") as fh:
        json.dump(counters, fh)
    return counters


def _read_epoch_docs(spark: SparkSession, edir: str) -> DataFrame:
    """(doc_id, text) of one epoch's extraction output; empty frame for
    a no-op epoch. Not materialized: the text is read once, into the
    epoch's signatures, and the probe re-reads only the doc_id column."""
    return (sinks.read_parquet_or_empty(
        spark, os.path.join(edir, "data"), "url string, text string")
        .select(F.col("url").alias("doc_id"), "text"))


def _read_index(spark: SparkSession, state_dir: str) -> DataFrame:
    return sinks.read_parquet_or_empty(
        spark, os.path.join(state_dir, "index"),
        "doc_id string, norm_md5 string, sig array<string>, epoch int",
        recursive=True)


def _tombstones(spark: SparkSession, state_dir: str) -> DataFrame:
    """(url, rm_epoch): every removal ever recorded, with its epoch."""
    frames = []
    for d in _epoch_dirs(state_dir):
        p = os.path.join(state_dir, "epochs", d, "removed")
        if os.path.isdir(p):
            frames.append(spark.read.parquet(p)
                          .withColumn("rm_epoch", F.lit(int(d[1:]))))
    if not frames:
        return spark.createDataFrame([], "url string, rm_epoch int")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def refresh_corpus(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live corpus: latest extracted revision per url across all
    committed epochs, minus urls whose latest event is a removal. One
    groupBy per side on doc-grain rows (text rides the shuffle once —
    the Iceberg deployment replaces this reader with the table itself,
    because MERGE already materialized latest-revision rows)."""
    frames = []
    for d in _epoch_dirs(state_dir):
        marker = os.path.join(state_dir, "epochs", d, _MARKER)
        data = os.path.join(state_dir, "epochs", d, "data")
        if not os.path.exists(marker):
            continue
        df = sinks.read_parquet_or_empty(spark, data, None)
        if df is None:                      # no-op epoch: no part files
            continue
        frames.append(df.withColumn("epoch", F.lit(int(d[1:]))))
    if not frames:
        raise ValueError(f"no committed epochs under {state_dir}")
    allrows = frames[0]
    for f in frames[1:]:
        allrows = allrows.unionByName(f)
    cols = [c for c in allrows.columns if c != "url"]
    latest = (allrows.groupBy("url")
              .agg(F.max(F.struct(F.col("epoch").alias("_e"),
                                  *[F.col(c) for c in cols])).alias("m"))
              .select("url", "m.*").drop("_e"))
    tomb = (_tombstones(spark, state_dir)
            .groupBy("url").agg(F.max("rm_epoch").alias("rm_epoch")))
    return (latest.join(tomb, "url", "left")
            .where(F.col("rm_epoch").isNull()
                   | (F.col("rm_epoch") < F.col("epoch")))
            .drop("rm_epoch"))


def compact_index(spark: SparkSession, state_dir: str,
                  ttl_min_epoch: Optional[int] = None) -> Dict:
    """Between-refresh index maintenance (the Iceberg OPTIMIZE seat):
    drop rows for urls whose latest event is a removal, then
    dedup.compact_dedup_index (replay merge + superseded-revision
    collapse on the canonical-URL key + optional epoch TTL). Rewrites
    the index as one compacted shard; the row counts before and after
    ride on the compaction's checkpoint and on its write."""
    index, before = sinks.observe(_read_index(spark, state_dir),
                                  index_rows_before=F.count(F.lit(1)))
    tomb = (_tombstones(spark, state_dir)
            .groupBy("url").agg(F.max("rm_epoch").alias("rm_epoch")))
    live = (index.join(tomb, index["doc_id"] == tomb["url"], "left")
            .where(tomb["rm_epoch"].isNull()
                   | (tomb["rm_epoch"] < index["epoch"]))
            .select(*index.columns))
    compacted = compact_dedup_index(
        live, url_keyed=True, order_col="epoch",
        ttl_min_order=ttl_min_epoch).localCheckpoint(eager=True)
    # the compacted shard lands on disk before any old shard goes: a
    # crash in between leaves duplicate rows (which the any-match probe
    # and the next compaction tolerate), never an empty index
    root = os.path.join(state_dir, "index")
    staged = os.path.join(root, f"compacted-{uuid.uuid4().hex}")
    compacted, after = sinks.observe(compacted,
                                     index_rows_after=F.count(F.lit(1)))
    compacted.write.parquet(staged)
    for name in os.listdir(root):
        if name != os.path.basename(staged):
            shutil.rmtree(os.path.join(root, name))
    os.rename(staged, os.path.join(root, "compacted"))
    return {**before(), **after()}
