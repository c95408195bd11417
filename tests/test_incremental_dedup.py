"""Cross-snapshot incremental dedup: build_dedup_index +
dedup_against_index — the daily-refresh operator that dedups a new
crawl batch against a stored signature index WITHOUT rescanning the
corpus text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_module_spark.functions.dedup import (IDX_SIGS, build_dedup_index,
                                              dedup_against_index)

T1 = ("the quick brown fox jumps over the lazy dog while the cat "
      "watches from the warm stone wall near the garden gate today")
T2 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.createDataFrame(
        [(100, T1), (101, T2)], "doc_id long, text string")
    return build_dedup_index(docs).localCheckpoint(eager=True)


def _decide(spark, index, rows):
    new = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r
            for r in dedup_against_index(new, index).collect()}


def test_index_shape(index):
    rows = {r["doc_id"]: r for r in index.collect()}
    assert set(rows) == {100, 101}
    for r in rows.values():
        assert len(r["sig"]) == IDX_SIGS and len(r["norm_md5"]) == 32


def test_exact_dup_is_normalization_robust(spark, index):
    # same text, different whitespace and case -> exact dup
    mangled = "  " + T1.upper().replace(" ", "   ") + " "
    got = _decide(spark, index, [(1, mangled)])
    r = got[1]
    assert r["exact_dup"] and not r["keep"]


def test_near_dup_small_edit(spark, index):
    # two words changed out of 22 -> high signature agreement
    edited = T2.replace("alpha", "ALPHA2").replace("pi", "pie")
    got = _decide(spark, index, [(2, edited)])
    r = got[2]
    assert not r["exact_dup"]
    assert r["near_dup"] and not r["keep"]
    assert r["matched_doc"] == 101
    assert r["n_sig_agree"] >= 5


def test_fresh_and_empty_docs_are_kept(spark, index):
    got = _decide(spark, index, [
        (3, "completely unrelated content about spark physical plans "
            "broadcast joins and shuffle partitions in a data engine"),
        (4, ""),
        (5, None),
    ])
    for i in (3, 4, 5):
        assert got[i]["keep"] and not got[i]["exact_dup"] \
            and not got[i]["near_dup"]


def test_index_shares_the_curate_minhash_family(spark, sf_dir):
    """The refresh index and the curate-side LSH hash identically: the
    first N_BANDS index signatures of every indexed doc are exactly
    minhash_frame's sig_0..sig_{N_BANDS-1}, so a hash change cannot
    reach one path and not the other."""
    from ocr_module_spark.functions.dedup import N_BANDS, minhash_frame
    edge = spark.createDataFrame([(-1, T1), (-2, "  "), (-3, None)],
                                 "doc_id long, text string")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").unionByName(edge))
    idx = {r["doc_id"]: list(r["sig"][:N_BANDS])
           for r in build_dedup_index(docs).collect()}
    mh = {r["doc_id"]: [r[f"sig_{b}"] for b in range(N_BANDS)]
          for r in minhash_frame(docs).collect()}
    assert -1 in idx and -2 not in idx and -3 not in idx
    assert idx == {d: mh[d] for d in idx}


def test_no_all_pairs_join_in_plan(spark, index):
    new = spark.createDataFrame([(2, T2), (3, "other words here")],
                                "doc_id long, text string")
    plan = dedup_against_index(new, index)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exact flag is a membership probe, never a materialized pair set
    assert "LeftSemi" in plan
    # near-dup agreement reads off the grouped (band, sig) join via
    # partial aggregation — the interpreted per-pair HOF fold is gone
    assert "zip_with" not in plan and "aggregate(" not in plan


def test_exclude_self_replay_idempotence(spark):
    """A doc whose OWN index row is already present (torn epoch replay)
    must not flag itself with exclude_self=True — and must still be
    flagged by any OTHER matching doc."""
    docs = spark.createDataFrame(
        [(10, T1), (11, T2)], "doc_id long, text string")
    idx = build_dedup_index(docs)
    # replay against an index already containing both docs themselves
    got = {r["doc_id"]: r for r in
           dedup_against_index(docs, idx, exclude_self=True).collect()}
    assert got[10]["keep"] and got[11]["keep"]
    # but a true duplicate under a different id is still caught
    dup = spark.createDataFrame([(12, T1)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup_against_index(dup, idx, exclude_self=True).collect()}
    assert got[12]["exact_dup"] and not got[12]["keep"]


@pytest.mark.parametrize("exclude_self", [False, True])
def test_precomputed_new_idx_equals_default(spark, index, exclude_self):
    """A caller that builds the batch's signature rows once and passes
    them as ``new_idx`` gets the same decisions as the default call —
    with and without exclude_self, empty and NULL text included."""
    new = spark.createDataFrame([
        (1, "  " + T1.upper() + " "),                          # exact
        (2, T2.replace("alpha", "ALPHA2").replace("pi", "pie")),  # near
        (3, "completely unrelated content about shuffle partitions"),
        (4, ""),
        (5, None),
        (100, T1),                     # its own row is in the index
    ], "doc_id long, text string")
    want = sorted(tuple(r) for r in dedup_against_index(
        new, index, exclude_self=exclude_self).collect())
    sigs = build_dedup_index(new).localCheckpoint(eager=True)
    got = sorted(tuple(r) for r in dedup_against_index(
        new, index, exclude_self=exclude_self, new_idx=sigs).collect())
    assert got == want
    dropped = {r[0] for r in got if not r[-1]}
    assert dropped == ({1, 2} if exclude_self else {1, 2, 100})


def test_keep_best_quality_survivor(spark):
    """dedup_decision_frame(quality=...): the cluster survivor is the
    highest-scored doc, not the min doc_id; unscored clusters fall back
    to the min-doc canonical."""
    from ocr_module_spark.functions.dedup import dedup_decision_frame

    base = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " one"), (3, "ten " + base),   # one cluster
         (7, T1), (8, T1 + " extra")],                        # another
        "doc_id long, text string")
    quality = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50)], "doc_id long, score long")

    got = {r["doc_id"]: r["keep"]
           for r in dedup_decision_frame(docs, quality).collect()}
    assert got == {1: False, 2: True, 3: False,   # best score wins
                   7: True, 8: False}             # unscored -> min doc
    # default (no quality): min doc_id keeps
    got = {r["doc_id"]: r["keep"]
           for r in dedup_decision_frame(docs).collect()}
    assert got[1] and not got[2] and not got[3]
