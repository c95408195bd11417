"""Snapshot-refresh loop: exact diff counters, work proportionality
(unchanged docs never re-extract), the incremental==from-scratch
invariant (refresh_corpus text byte-identical to a full extraction of
the live snapshot after every epoch), tombstone/re-add liveness,
idempotent re-run, torn-refresh replay, cross-snapshot dedup of an
added near-dup, and index hygiene after compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_module_spark import corpus, pipeline
from ocr_module_spark.refresh import (compact_index, refresh,
                                      refresh_corpus)

N1, N2 = 40, 50
REMOVED = 3          # urls dropped in snapshot v2
CHANGED = 5          # urls whose html gains a revision paragraph
REV = b"<p>Revision two adds this brand new paragraph of text.</p>"


def _snap1(spark):
    return corpus.pages_df(spark, N1)


def _urls(pages):
    return sorted(r["url"] for r in pages.select("url").collect())


_CACHE: dict = {}


def _sets(spark):
    """(removed, changed, donor) urls — all with NON-EMPTY extracted
    text, so each has a signature-index row to exercise (empty docs
    are excluded from the index by design and never dup-flag)."""
    if "sets" not in _CACHE:
        ext = pipeline.extract(_snap1(spark)).select("url", "text")
        ne = sorted(r["url"] for r in ext.collect()
                    if r["text"] and r["text"].strip())
        assert len(ne) >= REMOVED + CHANGED + 3
        _CACHE["sets"] = (ne[:REMOVED],
                          ne[REMOVED:REMOVED + CHANGED],
                          ne[REMOVED + CHANGED + 2])
    return _CACHE["sets"]


def _snap2(spark):
    """v2 = pages_df(N2) (a byte-identical superset of v1: +10 added)
    minus REMOVED v1 urls, with CHANGED v1 urls' html revised."""
    base = corpus.pages_df(spark, N2)
    removed, changed, _ = _sets(spark)
    return (base.where(~F.col("url").isin(removed))
            .withColumn("html",
                        F.when(F.col("url").isin(changed),
                               F.concat("html", F.lit(REV)))
                        .otherwise(F.col("html"))))


def _extracted_texts(pages):
    return {r["url"]: r["text"] for r in
            pipeline.extract(pages).select("url", "text").collect()}


def _corpus_texts(spark, state):
    return {r["url"]: r["text"] for r in
            refresh_corpus(spark, state).select("url", "text").collect()}


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    return str(tmp_path_factory.mktemp("refresh_state"))


@pytest.fixture(scope="module")
def epoch0(spark, state):
    return refresh(spark, _snap1(spark), state)


def test_first_epoch_all_added(spark, state, epoch0):
    c = epoch0
    assert c["epoch"] == 0
    assert c["docs_added"] == N1 and c["docs_changed"] == 0 \
        and c["docs_removed"] == 0 and c["docs_unchanged"] == 0
    assert c["extract_docs_in"] == N1
    assert c["dedup_docs"] > 0 and c["index_rows_appended"] > 0
    # incremental == from-scratch after epoch 0
    assert _corpus_texts(spark, state) == _extracted_texts(_snap1(spark))


@pytest.fixture(scope="module")
def epoch1(spark, state, epoch0):
    return refresh(spark, _snap2(spark), state)


def test_second_epoch_routes_only_delta(spark, state, epoch1):
    c = epoch1
    assert c["epoch"] == 1
    assert c["docs_added"] == N2 - N1
    assert c["docs_changed"] == CHANGED
    assert c["docs_removed"] == REMOVED
    assert c["docs_unchanged"] == N1 - REMOVED - CHANGED
    # THE scale claim: extraction work == |added| + |changed|
    assert c["extract_docs_in"] == (N2 - N1) + CHANGED


def test_incremental_equals_from_scratch(spark, state, epoch1):
    v2 = _snap2(spark)
    assert _corpus_texts(spark, state) == _extracted_texts(v2)
    # and the changed docs' text actually changed across epochs
    removed, changed, _ = _sets(spark)
    t1 = _extracted_texts(_snap1(spark))
    live = _corpus_texts(spark, state)
    for u in changed:
        assert live[u] != t1[u]
    for u in removed:
        assert u not in live


def test_idempotent_rerun_is_a_noop_epoch(spark, state, epoch2_noop):
    c = epoch2_noop
    assert c["epoch"] == 2
    assert c["docs_added"] == c["docs_changed"] == c["docs_removed"] == 0
    assert c["docs_unchanged"] == N2 - REMOVED
    assert c["extract_docs_in"] == 0 and c["dedup_docs"] == 0
    assert _corpus_texts(spark, state) == _extracted_texts(_snap2(spark))


@pytest.fixture(scope="module")
def epoch2_noop(spark, state, epoch1):
    return refresh(spark, _snap2(spark), state)


def _snap3(spark):
    """v3 = v2 + the first removed url re-added (v1 bytes)."""
    readd = _sets(spark)[0][0]
    return _snap2(spark).unionByName(
        _snap1(spark).where(F.col("url") == readd))


@pytest.fixture(scope="module")
def epoch3_torn(spark, state, epoch2_noop):
    """Refresh with v3, then simulate a crash (delete the commit
    marker) and replay the same snapshot. Returns (first, replay)."""
    v3 = _snap3(spark)
    c3 = refresh(spark, v3, state)
    marker = os.path.join(state, "epochs", "e000003",
                          "_refresh_complete.json")
    os.remove(marker)
    c3b = refresh(spark, v3, state)
    return c3, c3b


def test_torn_refresh_replays_into_same_epoch(spark, state, epoch3_torn):
    """A crash after the work but before the commit marker replays the
    SAME epoch id to the identical state; the re-added url is live."""
    c3, c3b = epoch3_torn
    assert c3["epoch"] == 3 and c3["docs_added"] == 1
    assert c3b["epoch"] == 3          # replayed, not a new epoch
    # replay extracted nothing new (the sink's resume anti-join)
    assert c3b["extract_docs_in"] == 0
    marker = os.path.join(state, "epochs", "e000003",
                          "_refresh_complete.json")
    assert os.path.exists(marker)
    live = _corpus_texts(spark, state)
    assert _sets(spark)[0][0] in live
    assert live == _extracted_texts(_snap3(spark))


@pytest.fixture(scope="module")
def epoch4_clone(spark, state, epoch3_torn):
    """v4 = v3 + a byte-copy of an existing page under a new url."""
    donor = _sets(spark)[2]          # non-empty + unchanged since v1
    clone = (_snap1(spark).where(F.col("url") == donor)
             .withColumn("url", F.concat("url", F.lit("?clone=1"))))
    return refresh(spark, _snap3(spark).unionByName(clone), state), donor


def test_added_near_dup_is_deduped_cross_snapshot(spark, state,
                                                  epoch4_clone):
    """The added byte-copy is flagged exact-dup against the signature
    index built across earlier epochs — no stored text rescanned."""
    c, donor = epoch4_clone
    assert c["docs_added"] == 1
    assert c["dedup_docs"] == 1
    assert c["dedup_exact"] == 1 and c["dedup_kept"] == 0
    dec = spark.read.parquet(
        os.path.join(state, "decisions", f"e{c['epoch']:06d}"))
    row = dec.collect()[0]
    assert row["doc_id"] == donor + "?clone=1"
    assert row["keep"] is False and row["matched_doc"] == donor
    # the dropped dup contributes no index row
    assert c["index_rows_appended"] == 0


def test_compaction_scrubs_removed_and_preserves_decisions(
        spark, state, epoch4_clone):
    _, donor = epoch4_clone
    removed, _, _ = _sets(spark)
    # the re-added url's index presence depends on whether epoch 3's
    # dedup KEPT it (the near-dup-rich corpus may legitimately fold it
    # into a cluster) — read the decision, assert accordingly below
    dec3 = spark.read.parquet(os.path.join(state, "decisions", "e000003"))
    readd_kept = dec3.where(
        (F.col("doc_id") == removed[0]) & F.col("keep")).count() == 1
    before = compact_index(spark, state)
    assert before["index_rows_after"] < before["index_rows_before"]
    idx = (spark.read.option("recursiveFileLookup", "true")
           .parquet(os.path.join(state, "index")))
    ids = {r["doc_id"] for r in idx.select("doc_id").collect()}
    # urls removed in v2 and never re-added are scrubbed; the re-added
    # url (tombstoned at epoch 1, re-extracted at epoch 3) survives
    # exactly when its re-extraction was kept
    for u in removed[1:]:
        assert u not in ids
    assert (removed[0] in ids) == readd_kept
    # decisions against the compacted index are unchanged: replay a
    # fresh clone batch — still flagged exact-dup, still dropped
    from ocr_module_spark.functions.dedup import dedup_against_index
    clone_docs = pipeline.extract(
        _snap1(spark).where(F.col("url") == donor)) \
        .select(F.concat("url", F.lit("?clone=2")).alias("doc_id"), "text")
    dec = dedup_against_index(clone_docs, idx).collect()[0]
    assert dec["exact_dup"] is True and dec["keep"] is False


def _sql_actions(spark, after: int) -> list:
    """(execution id, action) of every SQL execution newer than
    ``after``, read off the SQL status store; the action is the head of
    the execution's ``'<action> at <call site>'`` description."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = (spark._jsparkSession.sharedState().statusStore()
          .executionsList().iterator())
    out = []
    while it.hasNext():
        e = it.next()
        if e.executionId() > after:
            out.append((e.executionId(), e.description().split(" at ")[0]))
    return out


def test_epoch_counts_through_observe_and_writes_once(spark, state,
                                                      epoch4_clone):
    """One epoch triggers no collect/first/count — every counter rides
    on a checkpoint or a write through observe — and the tables it
    derives from what it computed once are what recomputing gives: the
    fingerprint table is the snapshot's own, the index shard is the
    kept docs' signature rows."""
    from ocr_module_spark.functions.dedup import build_dedup_index
    from ocr_module_spark.refresh import snapshot_fingerprints
    pages = _snap1(spark)      # back to v1: re-adds, reverts, removes
    seen = max([i for i, _ in _sql_actions(spark, -1)], default=-1)
    c = refresh(spark, pages, state)
    actions = [a for _, a in _sql_actions(spark, seen)]
    assert "parquet" in actions and "localCheckpoint" in actions
    assert not {"collect", "first", "count"} & set(actions), actions
    # v4 -> v1: the 10 added urls and the clone leave, the two urls
    # removed in v2 and never re-added come back, the revisions revert
    assert (c["docs_added"], c["docs_removed"], c["docs_changed"],
            c["docs_unchanged"]) == (REMOVED - 1, N2 - N1 + 1, CHANGED,
                                     N1 - (REMOVED - 1) - CHANGED)
    assert c["dedup_docs"] == c["extract_docs_in"] == REMOVED - 1 + CHANGED

    fp = spark.read.parquet(os.path.join(state, "fingerprints"))
    assert set(map(tuple, fp.collect())) \
        == set(map(tuple, snapshot_fingerprints(pages).collect()))

    ep = f"e{c['epoch']:06d}"
    docs = (spark.read.parquet(os.path.join(state, "epochs", ep, "data"))
            .select(F.col("url").alias("doc_id"), "text"))
    dec = spark.read.parquet(os.path.join(state, "decisions", ep))
    assert dec.where("keep").count() == c["dedup_kept"]
    kept = docs.join(dec.where("keep").select("doc_id"), "doc_id")

    def sig_rows(df):
        return {(r["doc_id"], r["norm_md5"], tuple(r["sig"]))
                for r in df.collect()}
    shard = spark.read.parquet(os.path.join(state, "index", ep))
    assert {r["epoch"] for r in shard.collect()} <= {c["epoch"]}
    assert sig_rows(shard) == sig_rows(build_dedup_index(kept))
    assert shard.count() == c["index_rows_appended"]


def test_unreadable_index_shard_fails_the_refresh(spark, tmp_path):
    """A committed index shard whose part files are garbage must fail
    the next refresh before its commit marker — never be read as an
    empty index, which would commit an epoch that was not deduplicated."""
    state = str(tmp_path)
    refresh(spark, corpus.pages_df(spark, 20), state)
    shard = os.path.join(state, "index", "e000000")
    parts = [f for f in os.listdir(shard) if f.endswith(".parquet")]
    assert parts
    for f in parts:
        with open(os.path.join(shard, f), "wb") as fh:
            fh.write(b"not a parquet file\n" * 8)
    with pytest.raises(Exception):
        refresh(spark, corpus.pages_df(spark, 24), state)
    assert not os.path.exists(os.path.join(
        state, "epochs", "e000001", "_refresh_complete.json"))


def test_failed_compaction_write_keeps_the_index(spark, tmp_path,
                                                 monkeypatch):
    """A compaction whose write fails leaves the index it read: the
    compacted shard is written before any old shard is removed. A
    successful compaction then leaves the one compacted shard."""
    from pyspark.sql.readwriter import DataFrameWriter
    from ocr_module_spark.refresh import _read_index
    state = str(tmp_path)
    refresh(spark, corpus.pages_df(spark, 20), state)

    def rows():
        return sorted((r["doc_id"], r["norm_md5"], tuple(r["sig"]),
                       r["epoch"])
                      for r in _read_index(spark, state).collect())
    before = rows()
    assert before

    def failing_write(self, path, *args, **kwargs):
        raise OSError(f"write to {path} failed")
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(OSError):
        compact_index(spark, state)
    monkeypatch.undo()
    assert rows() == before

    compact_index(spark, state)
    assert os.listdir(os.path.join(state, "index")) == ["compacted"]
