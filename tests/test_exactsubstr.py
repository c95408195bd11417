"""ExactSubstr dedup (functions/exactsubstr.py): twin equality, the
winnowing coverage guarantee, exactness (zero false positives), and the
scale shape of the plan.

Conventions mirror test_span_dedup / test_bpe: a pure-Python reference
twin pins every value (the operator has no tractable single-query SQL
form — the suffix-array paper's semantics need the anchor/verify
composition), hypothesis fuzz drives the twin-vs-engine equality, and
the plan is asserted equi-join-only with exactly one Arrow-batched
Python stage (the anchor kernel) and no row-wise Python UDF.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings, strategies as st

from ocr_module_spark.functions.exactsubstr import (
    K, MIN_RUN, W, _twin_anchors, exact_substr_frame, exact_substr_text,
    exact_substr_twin, winnow_anchors)

# a run of exactly MIN_RUN words (the winnowing guarantee boundary)
RUN = " ".join(f"run{i}" for i in range(MIN_RUN))
# unique filler vocabularies (no accidental k-gram overlap across docs)
FILL_A = " ".join(f"fa{i}" for i in range(40))
FILL_B = " ".join(f"fb{i}" for i in range(40))
FILL_C = " ".join(f"fc{i}" for i in range(40))
FILL_D = " ".join(f"fd{i}" for i in range(40))


def _frame(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r.asDict()
            for r in exact_substr_frame(df).collect()}


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (0, f"{FILL_A} {RUN}"),            # canonical (min doc, pos)
        (1, f"{FILL_B} {RUN} {FILL_C}"),   # duplicate at a different offset
        (2, FILL_D),                       # clean doc — untouched
        (3, ""), (4, None),                # grain preserved
        (5, " ".join(f"sh{i}" for i in range(K - 1))),  # < k words
    ]
    return _frame(spark, rows), rows


def test_grain_preserved(planted):
    out, _ = planted
    assert sorted(out) == [0, 1, 2, 3, 4, 5]


def test_canonical_keeps_duplicate_drops(planted):
    out, rows = planted
    # doc 0 is canonical: nothing dropped
    assert out[0]["n_dup_runs"] == 0 and out[0]["dup_words"] == 0
    # doc 1 loses exactly the planted run, at arbitrary alignment
    assert out[1]["n_dup_runs"] == 1
    assert out[1]["dup_words"] == MIN_RUN
    kept = f"{FILL_B} {FILL_C}"
    assert out[1]["kept_md5"] == hashlib.md5(kept.encode()).hexdigest()
    assert out[1]["kept_words"] == 80
    # untouched docs keep their bytes
    assert out[2]["kept_md5"] == hashlib.md5(FILL_D.encode()).hexdigest()
    assert out[3]["kept_words"] == 0 and out[4]["kept_words"] == 0


def test_run_below_threshold_survives(spark):
    short = " ".join(f"run{i}" for i in range(MIN_RUN - 1))
    out = _frame(spark, [(0, f"{FILL_A} {short}"),
                         (1, f"{FILL_B} {short}")])
    assert out[0]["n_dup_runs"] == 0 and out[1]["n_dup_runs"] == 0


def test_whole_doc_duplicate(spark):
    body = f"{FILL_A} {RUN} {FILL_B}"
    out = _frame(spark, [(0, body), (1, body)])
    assert out[0]["n_dup_runs"] == 0           # canonical copy intact
    assert out[1]["kept_words"] == 0           # clone fully dropped
    assert out[1]["dup_words"] == out[1]["n_words"]


def test_within_doc_repeat(spark):
    out = _frame(spark, [(0, f"{RUN} {RUN} {FILL_A}")])
    # second copy inside the same doc drops; first copy + filler stay
    assert out[0]["n_dup_runs"] == 1
    kept = f"{RUN} {FILL_A}"
    assert out[0]["kept_md5"] == hashlib.md5(kept.encode()).hexdigest()


def test_periodic_text_keeps_canonical_region(spark):
    """Self-overlapping periodic text (period < anchor spacing) is the
    one shape where a later same-doc occurrence's backward extension
    reaches across the copy gap; without the canonical clamp the merged
    interval swallows the canonical region and every copy corpus-wide
    empties. Pins the chosen semantics: the canonical doc keeps a
    non-empty canonical region, the clone still drops entirely, and the
    twin mirrors both."""
    period = "la li lu"
    body = " ".join([period] * 80)          # 240 words, period 3 < K
    rows = [(0, body), (1, body)]
    out = _frame(spark, rows)
    # canonical doc: the canonical region survives (pre-fix: 0 kept)
    assert out[0]["kept_words"] > 0
    # ...but the within-doc repetition is still deduplicated
    assert out[0]["n_dup_runs"] >= 1 and out[0]["dup_words"] > 0
    # the clone is a pure copy of the canonical: fully removed
    assert out[1]["kept_words"] == 0
    assert out[1]["dup_words"] == out[1]["n_words"]
    # twin pins the identical values
    want = exact_substr_twin(dict(rows))
    for d in (0, 1):
        kept, n_runs, dup_words = want[d]
        assert out[d]["n_dup_runs"] == n_runs
        assert out[d]["dup_words"] == dup_words
        assert out[d]["kept_md5"] == hashlib.md5(kept.encode()).hexdigest()


def test_periodic_text_mixed_with_filler(spark):
    """Same clamp semantics with unique filler around the periodic
    body: the canonical doc's filler is untouched on both sides."""
    body = " ".join(["pe ri od"] * 40)
    rows = [(0, f"{FILL_A} {body} {FILL_B}"),
            (1, f"{FILL_C} {body} {FILL_D}")]
    out = _frame(spark, rows)
    want = exact_substr_twin(dict(rows))
    for d in (0, 1):
        kept, n_runs, dup_words = want[d]
        assert out[d]["kept_md5"] == hashlib.md5(kept.encode()).hexdigest()
        assert out[d]["n_dup_runs"] == n_runs
    # canonical doc keeps both fillers (clamp never reaches them)
    kept0 = want[0][0]
    assert kept0.startswith(FILL_A) and kept0.endswith(FILL_B)
    # the clone keeps its fillers but loses the periodic body
    kept1 = want[1][0]
    assert kept1.startswith(FILL_C) and kept1.endswith(FILL_D)
    assert "pe ri od" not in kept1


def test_text_form_matches_frame(spark):
    rows = [(0, f"{FILL_A} {RUN}"), (1, f"{RUN} {FILL_B}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    txt = {r["doc_id"]: r["text"]
           for r in exact_substr_text(df).collect()}
    frm = _frame(spark, rows)
    for d in (0, 1):
        assert hashlib.md5(txt[d].encode()).hexdigest() \
            == frm[d]["kept_md5"]


def test_anchor_density_and_determinism(spark):
    from ocr_module_spark.functions.exactsubstr import winnow_anchors_arrow
    text = " ".join(f"w{i * 7919 % 4096}" for i in range(800))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    a1 = sorted((r["h"], r["pos"])
                for r in winnow_anchors(df).collect())
    a2 = sorted(_twin_anchors(text.split(), K, W))
    a3 = sorted((r["h"], r["pos"])
                for r in winnow_anchors_arrow(df).collect())
    assert a1 == a2                    # declarative HOF == twin
    assert a1 == a3                    # == the Arrow kernel (default)
    n_kg = 800 - K + 1
    # winnowing density ~2/(w+1); allow generous slack either side
    assert n_kg // (W * 3) <= len(a1) <= n_kg


def test_hof_and_arrow_paths_agree_on_string_ids(spark):
    """Both anchor forms emit the same rows on string doc keys (the
    curate-chain shape); everything after the anchors is shared code,
    so the operator's verdicts follow."""
    from ocr_module_spark.functions.exactsubstr import winnow_anchors_arrow
    rows = [("u/a", f"{FILL_A} {RUN}"), ("u/b", f"{FILL_B} {RUN} x"),
            ("u/c", None), ("u/d", "")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    arrow = winnow_anchors_arrow(df)
    assert arrow.schema["doc_id"].dataType.simpleString() == "string"
    a = sorted(map(tuple, arrow.collect()))
    assert a and a == sorted(map(tuple, winnow_anchors(df).collect()))
    dropped = {r[0]: r[3] for r in exact_substr_frame(df).collect()}
    assert dropped["u/b"] == MIN_RUN and dropped["u/a"] == 0


# --- hypothesis: twin equality over adversarial corpora ----------------

WORD = st.sampled_from([f"t{i}" for i in range(7)])  # tiny vocab -> repeats
DOC = st.lists(WORD, min_size=0, max_size=120).map(" ".join)


@settings(max_examples=12, deadline=None)
@given(st.lists(DOC, min_size=1, max_size=5))
def test_twin_equality_fuzz(spark, docs):
    rows = [(i, t) for i, t in enumerate(docs)]
    got = _frame(spark, rows)
    want = exact_substr_twin(dict(rows))
    for d, (kept, n_runs, dup_words) in want.items():
        assert got[d]["n_dup_runs"] == n_runs, (d, docs)
        assert got[d]["dup_words"] == dup_words, (d, docs)
        assert got[d]["kept_md5"] \
            == hashlib.md5(kept.encode()).hexdigest(), (d, docs)


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 30), st.integers(0, 30), st.integers(0, 2000))
def test_guarantee_planted_run_always_caught(spark, off_a, off_b, seed):
    """The winnowing guarantee: a shared run of >= W + K - 1 words is
    flagged whatever its alignment in either document."""
    fa = " ".join(f"ga{seed}x{i}" for i in range(off_a))
    fb = " ".join(f"gb{seed}x{i}" for i in range(off_b))
    rows = [(0, f"{fa} {RUN}".strip()), (1, f"{fb} {RUN} tail".strip())]
    out = _frame(spark, rows)
    assert out[0]["n_dup_runs"] + out[1]["n_dup_runs"] == 1
    assert out[0]["dup_words"] + out[1]["dup_words"] == MIN_RUN


def test_no_false_positives_dropped_text_duplicated_verbatim(spark):
    """Exactness: every matched interval's word run appears verbatim
    (contiguously) at ANOTHER (doc, offset) in the original corpus —
    i.e. only genuinely duplicated text is ever dropped."""
    from ocr_module_spark.functions.exactsubstr import (
        exact_substr_matched)
    rows = [(0, f"{FILL_A} {RUN}"),
            (1, f"{FILL_B} {RUN} {FILL_C}"),
            (2, f"{RUN} {FILL_C}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = {d: t.split() for d, t in rows}
    ivs = [(r["doc_id"], r["start"], r["end"])
           for r in exact_substr_matched(df).collect()]
    assert ivs, "fixture must produce matches"

    def occurrences(run):
        n = len(run)
        return [(d2, s) for d2, w2 in orig.items()
                for s in range(len(w2) - n + 1) if w2[s:s + n] == run]

    for d, start, end in ivs:
        run = orig[d][start:end]
        assert len(run) >= MIN_RUN
        others = [o for o in occurrences(run) if o != (d, start)]
        assert others, (d, start, end)


def test_decoy_canonical_does_not_shadow_runs(spark):
    """Round-based verification regression (code-review finding): a
    context-less decoy occurrence of the anchor k-gram — smaller
    (doc_id, pos) than the genuine run occurrences — must not shadow
    the run. With canonical-only verification docs 10/11 kept their
    25-word duplicate; the rounds peel the decoys."""
    run_words = RUN.split()
    # decoys: the exact anchor k-grams winnowing selects inside RUN,
    # planted as standalone docs with SMALLER doc_ids than the runs
    anchors = _twin_anchors((FILL_A + " " + RUN).split(), K, W)
    run_off = len(FILL_A.split())
    in_run = [p for h, p in anchors if p >= run_off]
    assert in_run, "fixture: RUN must carry at least one anchor"
    full = (FILL_A + " " + RUN).split()
    decoys = [(i, " ".join(full[p:p + K]))
              for i, p in enumerate(sorted(set(in_run))[:2])]
    rows = decoys + [(10, f"{FILL_A} {RUN}"), (11, f"{FILL_B} {RUN}")]
    out = _frame(spark, rows)
    # decoys and the canonical run doc keep everything
    for i, _ in decoys:
        assert out[i]["dup_words"] == 0
    assert out[10]["dup_words"] == 0
    # the non-canonical run occurrence is caught despite the decoys
    assert out[11]["dup_words"] == MIN_RUN
    assert out[11]["kept_md5"] == hashlib.md5(
        FILL_B.encode()).hexdigest()
    # and the twin agrees bit-for-bit
    want = exact_substr_twin(dict(rows))
    for d, (kept, n_runs, dup_words) in want.items():
        assert out[d]["dup_words"] == dup_words
        assert out[d]["kept_md5"] \
            == hashlib.md5(kept.encode()).hexdigest()


def test_rounds_residue_bound(spark):
    """Rounds-convergence pin (VERDICT r4 ask #8): with ROUNDS=3 a
    duplicated run survives verification ONLY when more than ROUNDS-1
    never-matching decoy occurrences of EVERY one of its anchor hashes
    precede its first genuine occurrence — the documented conservative
    residue. Plants exactly ROUNDS-1 decoys per in-run anchor (run must
    be caught) and ROUNDS decoys per anchor (run must survive — kept,
    never a false positive), twin-verified both ways."""
    from ocr_module_spark.functions.exactsubstr import ROUNDS
    run_words = (FILL_A + " " + RUN).split()
    run_off = len(FILL_A.split())
    in_run = sorted({p for _h, p in _twin_anchors(run_words, K, W)
                     if p >= run_off})
    assert in_run, "fixture: RUN must carry at least one anchor"

    def corpus_with(n_decoys):
        rows, i = [], 0
        for p in in_run:
            for _ in range(n_decoys):
                rows.append((i, " ".join(run_words[p:p + K])))
                i += 1
        rows.append((100, f"{FILL_A} {RUN}"))     # canonical run doc
        rows.append((101, f"{FILL_B} {RUN}"))     # the copy under test
        return rows

    # ROUNDS-1 decoys per anchor: peeled, the copy is caught
    rows = corpus_with(ROUNDS - 1)
    out = _frame(spark, rows)
    assert out[101]["dup_words"] == MIN_RUN
    assert out[100]["dup_words"] == 0             # canonical intact
    want = exact_substr_twin(dict(rows))
    for d, (kept, n_runs, dw) in want.items():
        assert out[d]["dup_words"] == dw
        assert out[d]["kept_md5"] == hashlib.md5(kept.encode()).hexdigest()

    # ROUNDS decoys per anchor: verification budget exhausted — the
    # copy SURVIVES (conservative residue, zero false positives), and
    # no decoy loses a byte either
    rows = corpus_with(ROUNDS)
    out = _frame(spark, rows)
    assert out[101]["dup_words"] == 0
    assert out[101]["kept_md5"] == hashlib.md5(
        f"{FILL_B} {RUN}".encode()).hexdigest()
    assert all(out[d]["dup_words"] == 0 for d in out)
    want = exact_substr_twin(dict(rows))
    for d, (kept, n_runs, dw) in want.items():
        assert out[d]["dup_words"] == dw



HOSTILE_WS = st.sampled_from(
    ["t0", "t1", "t2", "　", "a b", "x"])


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(HOSTILE_WS, min_size=0, max_size=60),
                min_size=1, max_size=4),
       st.sampled_from([" ", "\t", "\n", "  ", " \t "]))
def test_twin_equality_hostile_whitespace(spark, docs, sep):
    """Tokenizer-boundary fuzz: unicode spaces (U+3000, U+00A0) are word
    BYTES to the engine's ASCII \\s+ split, tabs/newlines are
    separators, and edge separators produce empty words — the twin must
    mirror all of it."""
    rows = [(i, sep + sep.join(ws) + sep) for i, ws in enumerate(docs)]
    got = _frame(spark, rows)
    want = exact_substr_twin(dict(rows))
    for d, (kept, n_runs, dup_words) in want.items():
        assert got[d]["n_dup_runs"] == n_runs, (d, rows)
        assert got[d]["dup_words"] == dup_words, (d, rows)
        assert got[d]["kept_md5"] \
            == hashlib.md5(kept.encode()).hexdigest(), (d, rows)


def test_plan_shape(spark):
    from ocr_module_spark.functions.exactsubstr import winnow_anchors_arrow
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    # the anchor stage is deliberately ONE Arrow-batched Python stage
    # (MapInArrow — it runs in Python workers, so "no Python" would
    # overstate); its own plan must show exactly that node and nothing
    # row-wise. It is invisible in the full frame's plan below only
    # because the localCheckpoint cuts lineage.
    aplan = (winnow_anchors_arrow(df)._jdf.queryExecution()
             .executedPlan().toString())
    assert aplan.count("MapInArrow") == 1, aplan
    assert "BatchEvalPython" not in aplan
    # downstream (verify/extend/rewrite) is JVM-side: no row-wise
    # Python UDF, equi-joins only
    plan = exact_substr_frame(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan      # equi-joins only


def test_hostile_corpus_twin_equality(spark):
    """The full hostile documents table (NULL / empty / unicode-space
    zoo / mojibake / CJK rows, tools/gen_hostile.py) through the Arrow
    kernel + JVM verify path — twin equality on every verdict row. No
    SQL oracle exists for this operator, so this is its hostile gate."""
    import pathlib
    import sys
    sys.path.insert(0, str(pathlib.Path(__file__).resolve()
                           .parents[1] / "tools"))
    import gen_hostile
    gen_hostile.main()
    docs = (spark.read.parquet(f"{gen_hostile.DST}/documents.parquet")
            .select("doc_id", "text"))
    got = {r["doc_id"]: r.asDict()
           for r in exact_substr_frame(docs).collect()}
    rows = {r["doc_id"]: r["text"]
            for r in docs.collect()}
    want = exact_substr_twin(rows)
    assert sorted(got) == sorted(want)
    for d, (kept, n_runs, dup_words) in want.items():
        assert got[d]["n_dup_runs"] == n_runs, d
        assert got[d]["dup_words"] == dup_words, d
        assert got[d]["kept_md5"] \
            == hashlib.md5(kept.encode()).hexdigest(), d
