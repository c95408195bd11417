"""Cross-snapshot incremental dedup: build_dedup_index +
dedup_against_index — the daily-refresh operator that dedups a new
crawl batch against a stored signature index WITHOUT rescanning the
corpus text."""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from ocr_module_spark.functions.dedup import (IDX_MIN_AGREE, IDX_SIGS,
                                              build_dedup_index,
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
    # near-dup agreement is counted per candidate hit by positional
    # comparison — no interpreted per-pair HOF fold
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


def _h(s: str) -> str:
    """A minhash-shaped value: 32 hex chars."""
    return hashlib.md5(s.encode()).hexdigest()


def _sig(ns: str, same=(), like: str = "base") -> list:
    """Signature of namespace ``ns``: equal to ``like``'s at the
    positions in ``same``, its own values elsewhere."""
    return [_h(f"{like}{p}") if p in same else _h(f"{ns}{p}")
            for p in range(IDX_SIGS)]


ALL = tuple(range(IDX_SIGS))


def _probe_twin(ids, new_idx, index, exclude_self):
    """The probe's definition, brute force over every (batch row, index
    row) pair: one row per batch doc id; exact = a norm key equal to an
    index row's, near = >= IDX_MIN_AGREE positions equal, n_sig_agree
    the best agreement, matched_doc the smallest near-matching id; with
    ``exclude_self`` the index rows carrying the doc's own id do not
    count."""
    out = []
    for d in ids:
        mine = [(n, s) for i, n, s in new_idx if i == d]
        others = [(i, n, s) for i, n, s in index
                  if not (exclude_self and i == d)]
        exact = any(n == m for _, n, _ in others for m, _ in mine)
        hits = [(sum(a == b for a, b in zip(s, t)), i)
                for i, _, s in others for _, t in mine]
        hits = [(k, i) for k, i in hits if k >= IDX_MIN_AGREE]
        n_agree = max((k for k, _ in hits), default=None)
        matched = min((i for _, i in hits), default=None)
        out.append((d, exact, bool(hits), n_agree, matched,
                    not (exact or hits)))
    return sorted(out, key=repr)


def _probe_cases():
    """(new doc rows, new_idx rows, index rows): the probe's edge cases,
    each in its own signature namespace so they do not interact."""
    docs, new_idx, index = [], [], []
    # pigeonhole: 4 agreeing positions, one in each 2-minhash key or two
    # whole keys, are no near-dup; every arrangement of >= 5 is one
    index.append((900, _h("n900"), _sig("i900", ALL)))
    subsets = [(0, 2, 4, 6), (1, 3, 5, 7), (0, 1, 2, 3)] + [
        c for k in range(IDX_MIN_AGREE, IDX_SIGS + 1)
        for c in itertools.combinations(ALL, k)]
    for j, keep in enumerate(subsets):
        new_idx.append((1000 + j, _h(f"n{1000 + j}"), _sig(f"p{j}", keep)))
    # one value shared by every index doc, and a whole 2-minhash key
    # shared by half of them: the hot key fans out, only doc 960 agrees
    for j in range(40):
        index.append((2000 + j, _h(f"n{2000 + j}"),
                      _sig(f"hot{j}", (2, 3) if j % 2 else (2,), "hot")))
    index.append((960, _h("n960"), _sig("i960", (0, 1, 2, 3, 4), "hot")))
    new_idx.append((961, _h("n961"), _sig("b961", (0, 1, 2, 3, 4), "hot")))
    new_idx.append((962, _h("n962"), _sig("b962", (2, 3), "hot")))
    # two batch docs with identical arrays and norm keys; one of them
    # already has its own index row
    same = _sig("twins", ALL, "twins")
    new_idx += [(20, _h("n20"), same), (21, _h("n20"), same)]
    index.append((20, _h("n20"), same))
    # k index copies of one array (and norm key), probed by two of the
    # copies themselves and by a 6/8 near-dup
    copy = _sig("copies", ALL, "copies")
    index += [(30 + j, _h("n30"), copy) for j in range(3)]
    new_idx += [(31, _h("n30"), copy), (30, _h("n30"), copy),
                (40, _h("n40"), _sig("b40", range(6), "copies"))]
    # a doc's own older revision: near (6/8) with a new norm key, and
    # exact with an edited array
    index += [(50, _h("n50old"), _sig("old50", ALL, "rev50")),
              (51, _h("n51"), _sig("old51", ALL, "rev51"))]
    new_idx += [(50, _h("n50new"), _sig("new50", range(6), "rev50")),
                (51, _h("n51"), _sig("new51", (0,), "rev51"))]
    # replayed duplicate rows on both sides
    rep = _sig("rep", ALL, "rep")
    new_idx += [(60, _h("n60"), rep)] * 2
    index += [(61, _h("n60"), rep)] * 2 + [(60, _h("n60"), rep)]
    docs += [(i, "text") for i, _, _ in new_idx]
    # blank and NULL text: no signature row
    docs += [(70, ""), (71, None)]
    return docs, new_idx, index


@pytest.mark.parametrize("exclude_self", [False, True])
def test_probe_matches_brute_force_twin(spark, exclude_self):
    docs, new_idx, index = _probe_cases()
    schema = "doc_id long, norm_md5 string, sig array<string>"
    got = dedup_against_index(
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.createDataFrame(index, schema), exclude_self=exclude_self,
        new_idx=spark.createDataFrame(new_idx, schema)).collect()
    got = sorted((tuple(r) for r in got), key=repr)
    assert got == _probe_twin([d for d, _ in docs], new_idx, index,
                              exclude_self)
    near = {r[0] for r in got if r[2]}
    # the three 4-agreement arrangements are no near-dups, every
    # arrangement of 5 or more is one
    pigeonhole = {r[0] for r in got if 1000 <= r[0] < 2000}
    assert pigeonhole & near == pigeonhole - {1000, 1001, 1002}
    assert 961 in near and 962 not in near
    assert (50 in near) != exclude_self


def _col(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _ancestors(lines: list, i: int) -> list:
    """The nodes above line ``i`` of a plan tree string, nearest first."""
    col, out = _col(lines[i]), []
    for line in reversed(lines[:i]):
        if _col(line) < col:
            col = _col(line)
            out.append(line.lstrip(" :+-"))
    return out


@pytest.mark.parametrize("exclude_self", [False, True])
def test_probe_plan_streams_the_index(spark, tmp_path, exclude_self):
    """The probe shuffles at most 3 times (the batch's distinct arrays,
    the verified hits, the per-doc result) and never groups the index:
    every aggregation above an index scan sits above a join against the
    batch, so it only sees candidate hits."""
    docs, new_idx, index = _probe_cases()
    schema = "doc_id long, norm_md5 string, sig array<string>"
    # both signature tables come from parquet, as in a refresh, so the
    # planner sizes them from their files
    path, batch = str(tmp_path / "index"), str(tmp_path / "batch")
    spark.createDataFrame(index, schema).write.parquet(path)
    spark.createDataFrame(new_idx, schema).write.parquet(batch)
    df = dedup_against_index(
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.read.parquet(path), exclude_self=exclude_self,
        new_idx=spark.read.parquet(batch))
    df.collect()
    # the final (AQE) physical plan, one node per line
    lines = (df._jdf.queryExecution().executedPlan().toString()
             .split("== Initial Plan ==")[0].splitlines())
    shuffles = [x for x in lines if x.lstrip(" :+-").startswith("Exchange ")]
    assert 1 <= len(shuffles) <= 3, "\n".join(lines)
    scans = [i for i, x in enumerate(lines) if path in x]
    assert 1 <= len(scans) <= 2, "\n".join(lines)
    for i in scans:
        up = [a for a in _ancestors(lines, i)
              if "Join" in a or "Aggregate" in a]
        assert not up or "Join" in up[0], "\n".join(lines)


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
