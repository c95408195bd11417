"""End-to-end curation pipeline (curate.py): the composed
extract → quality → dedup → decontaminate chain over the synthetic
crawl, with per-stage accounting that must always sum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_module_spark import corpus, curate


@pytest.fixture(scope="module")
def curated_audit(spark):
    pages = corpus.pages_df(spark, 200)
    # benchmark: the extracted text of 5 crawl docs -> those extracted
    # docs (and any near-verbatim dups of them) must come out dropped
    from ocr_module_spark import pipeline
    bench = (pipeline.extract(pages).select("url", "text")
             .where(F.xxhash64("url") % 11 == 3)
             .select(F.xxhash64("url").alias("doc_id"), "text")
             .localCheckpoint(eager=True))
    cur, audit = curate.curate(spark, pages, bench)
    return (cur.localCheckpoint(eager=True),
            audit.localCheckpoint(eager=True), bench.count())


def test_counters_sum_and_match_frames(curated_audit):
    cur, audit, _ = curated_audit
    c = curate.stage_counters(audit)
    assert c["docs_extracted"] == audit.count() == 200
    assert (c["docs_kept"] + c["dropped_quality"] + c["dropped_duplicate"]
            + c["dropped_contaminated"]) == c["docs_extracted"]
    assert c["docs_kept"] == cur.count()
    assert c["docs_kept"] > 0


def test_benchmark_overlapping_docs_are_dropped(spark, curated_audit):
    """Every audit row whose text 100%-matches a benchmark doc must be
    flagged contaminated (unless an earlier gate already dropped it)."""
    cur, audit, n_bench = curated_audit
    assert n_bench > 0
    flagged = audit.where("contaminated")
    # the benchmark docs came FROM this corpus, so at least the
    # surviving self-matches must be flagged
    assert flagged.count() > 0
    for r in flagged.collect():
        assert r["kept"] is False


def test_curated_urls_unique_and_clean(curated_audit):
    cur, audit, _ = curated_audit
    assert cur.groupBy("url").count().where("count > 1").count() == 0
    kept = {r["url"] for r in audit.where("kept").collect()}
    assert {r["url"] for r in cur.collect()} == kept


def test_audit_quality_keep_is_quality_frame_keep(spark, curated_audit):
    """The audit's quality_keep is quality_frame's keep verdict for every
    url, and with model_weights it is that verdict AND the model's
    (an unscored doc counts as rejected)."""
    from ocr_module_spark.functions.model_score import (score_frame,
                                                        weights_frame)
    from ocr_module_spark.functions.textstats import quality_frame

    _cur, audit, _ = curated_audit
    docs = audit.select(F.col("url").alias("doc_id"), "text")
    rule = {r["doc_id"]: r["keep"] for r in
            quality_frame(docs).select("doc_id", "keep").collect()}
    got = {r["url"]: r["quality_keep"] for r in
           audit.select("url", "quality_keep").collect()}
    assert got == rule
    assert 0 < sum(rule.values()) < len(rule)

    # weights trained on the rule labels agree with the rule; zeroing
    # every third word (by hash) makes the model reject some rule keeps
    w = (weights_frame(docs)
         .withColumn("w_x1000",
                     F.when(F.pmod(F.xxhash64("word"), F.lit(3)) == 0, 0)
                     .otherwise(F.col("w_x1000")))
         .localCheckpoint(eager=True))
    model = {r["doc_id"]: r["keep"] for r in
             score_frame(docs, w).select("doc_id", "keep").collect()}
    assert {model.get(u) for u, k in rule.items() if k} == {True, False}
    bench = spark.createDataFrame([(1, "nothing matches this")],
                                  "doc_id long, text string")
    _cur_m, audit_m = curate.curate(spark, corpus.pages_df(spark, 200),
                                    bench, model_weights=w)
    got_m = {r["url"]: r["quality_keep"] for r in
             audit_m.select("url", "quality_keep").collect()}
    assert got_m == {u: k and bool(model.get(u)) for u, k in rule.items()}


def test_span_dedup_rewrite(spark):
    """curated_from_audit(span_dedup=True): cross-document boilerplate
    spans are stripped from all but their canonical occurrence; grain,
    urls, and the token budget stay consistent. Audit frame constructed
    directly — the crawl fixture keeps too few docs to plant dups in."""
    # banner is exactly SPAN_K=10 words, PREPENDED so it aligns to span 0
    banner = "subscribe to our newsletter for daily updates and offers now"
    body = {u: f"{u} body word{u[-1]} unique content stream number entry "
               f"row value cell" for u in ("a", "b", "c")}
    rows = [
        ("a", f"{banner} {body['a']}", True),
        ("b", f"{banner} {body['b']}", True),
        ("c", body["c"], True),
        ("d", f"{banner} dropped doc", False),   # not kept: never dedups
    ]
    audit = spark.createDataFrame(
        [(u, t, k, k, False, k) for u, t, k in rows],
        "url string, text string, quality_keep boolean, dup_keep boolean,"
        " contaminated boolean, kept boolean")
    rewritten = curate.curated_from_audit(
        audit, span_dedup=True).localCheckpoint(eager=True)
    out = {r["url"]: r for r in rewritten.collect()}
    # same survivors, same grain — the dropped doc stays dropped
    assert sorted(out) == ["a", "b", "c"]
    # exactly ONE canonical occurrence of the banner survives (url "a",
    # the min url); "b" loses its copy but keeps its own body verbatim
    assert out["a"]["text"] == f"{banner} {body['a']}"
    assert out["b"]["text"] == body["b"]
    assert out["c"]["text"] == body["c"]
    for r in out.values():
        expected = 0 if r["text"] == "" else len(r["text"].split())
        assert r["n_tokens"] == expected


def test_exact_substr_rewrite(spark):
    """curated_from_audit(exact_substr=True): an arbitrary-alignment
    duplicated run (>= MIN_RUN words, offset differently in each doc —
    invisible to the disjoint span grain) is stripped from all but its
    canonical occurrence."""
    from ocr_module_spark.functions.exactsubstr import MIN_RUN
    run = " ".join(f"boiler{i}" for i in range(MIN_RUN))
    lead_a = " ".join(f"la{i}" for i in range(3))   # offsets 3 vs 7:
    lead_b = " ".join(f"lb{i}" for i in range(7))   # never span-aligned
    rows = [
        ("a", f"{lead_a} {run}", True),
        ("b", f"{lead_b} {run}", True),
        ("c", "clean unique doc body", True),
    ]
    audit = spark.createDataFrame(
        [(u, t, k, k, False, k) for u, t, k in rows],
        "url string, text string, quality_keep boolean, dup_keep boolean,"
        " contaminated boolean, kept boolean")
    out = {r["url"]: r for r in curate.curated_from_audit(
        audit, exact_substr=True).collect()}
    assert out["a"]["text"] == f"{lead_a} {run}"    # canonical (min url)
    assert out["b"]["text"] == lead_b               # run stripped
    assert out["c"]["text"] == "clean unique doc body"
    for r in out.values():
        assert r["n_tokens"] == len(r["text"].split())


def test_single_extraction_scan(spark):
    """The composed pipeline must not re-extract per stage: curate()
    checkpoints the extracted docs once and every gate consumes that
    materialization."""
    pages = corpus.pages_df(spark, 50)
    bench = spark.createDataFrame([(1, "alpha beta gamma delta")],
                                  "doc_id long, text string")
    cur, audit = curate.curate(spark, pages, bench)
    # the audit plan must read the checkpointed docs, not re-run the
    # Arrow extraction (no MapInArrow / mapInPandas above the scan)
    plan = audit._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "MapInPandas" not in plan, plan


def test_budget_mix_stage_constructed(spark):
    """mix_from_audit on a constructed audit frame: per-HOST cap bites
    on the hot host, each tier's budget is respected with exact boundary
    semantics, low tier and non-kept docs never appear. (Constructed —
    the crawl fixture keeps too few docs for budgets to matter.)"""
    from ocr_module_spark.functions.textstats import MIX_SRC_CAP

    def doc(n_pairs):                       # 50% stopwords, wlen 4.5
        return ("the data " * n_pairs).strip()

    rows, i = [], 0

    def add(n_docs, n_pairs, host, kept=True):
        nonlocal i
        for _ in range(n_docs):
            rows.append((f"https://{host}/d{i:04d}", doc(n_pairs), kept))
            i += 1

    add(30, 25, "hot.example")               # high tier: capped 30 -> 18
    for j in range(10):
        add(7, 25, f"a{j}.example")          # high, under cap
    for j in range(20):
        add(10, 10, f"m{j}.example")         # mid: 200 docs x 20 tokens
    add(30, 3, "junk.example")               # low tier: budget 0
    add(10, 25, "hot.example", kept=False)   # dropped upstream: invisible

    audit = spark.createDataFrame(
        [(u, t, k, k, False, k) for u, t, k in rows],
        "url string, text string, quality_keep boolean, dup_keep boolean,"
        " contaminated boolean, kept boolean")
    budgets = {"high": 12_000, "mid": 3_000, "low": 0}
    got = curate.mix_from_audit(audit, budgets).collect()

    kept_urls = {u for u, _, k in rows if k}
    assert {r["url"] for r in got} <= kept_urls
    high = [r for r in got if r["tier"] == "high"]
    mid = [r for r in got if r["tier"] == "mid"]
    assert {r["tier"] for r in got} == {"high", "mid"}
    # hot host: exactly cap docs (its dropped docs don't eat cap slots)
    hot = [r for r in got if r["url"].startswith("https://hot.example/")]
    assert len(hot) == MIX_SRC_CAP
    assert len(high) == MIX_SRC_CAP + 70     # 4400 tokens <= 12000: all in
    # mid cut exactly at the budget; boundary doc (cum == budget) kept
    assert sum(r["n_tokens"] for r in mid) == budgets["mid"]
    assert max(r["cum_tokens"] for r in mid) == budgets["mid"]


def test_budget_mix_stage_on_chain(spark, curated_audit):
    """Smoke over the real extract→…→mix chain: the selection is a
    non-empty subset of the kept docs with consistent running totals."""
    cur, audit, _ = curated_audit
    kept_urls = {r["url"] for r in audit.where("kept").collect()}
    mix = curate.mix_from_audit(
        audit, {"high": 10**9, "mid": 10**9, "low": 0}).collect()
    assert mix and {r["url"] for r in mix} <= kept_urls
    for tier in {r["tier"] for r in mix}:
        tr = [r for r in mix if r["tier"] == tier]
        assert max(r["cum_tokens"] for r in tr) == \
            sum(r["n_tokens"] for r in tr)


def test_pack_stage_on_chain(spark, curated_audit):
    """Smoke over the real extract→…→pack chain: the plan covers every
    curated document's tokens exactly once and every non-final sequence
    per host is exactly full."""
    from collections import defaultdict

    cur, audit, _ = curated_audit
    L = 32
    plan = curate.pack_plan_from_curated(cur, seq_len=L).collect()
    n_by_url = {r["url"]: r["n_tokens"]
                for r in cur.collect() if r["n_tokens"] > 0}

    per_doc = defaultdict(int)
    fill = defaultdict(int)
    for r in plan:
        assert 0 <= r["tok_start"] < r["tok_end"]
        assert 0 <= r["seq_off"] < L
        per_doc[r["url"]] += r["tok_end"] - r["tok_start"]
        fill[(r["url_host"], r["seq_no"])] += r["tok_end"] - r["tok_start"]
    assert per_doc == n_by_url
    last = defaultdict(int)
    for host, seq in fill:
        last[host] = max(last[host], seq)
    for (host, seq), f in fill.items():
        assert f == L or seq == last[host]


def test_model_gate_tightens_quality(spark):
    """curate(model_weights=...): the quality verdict becomes
    rule-AND-model; a weights table that rejects everything empties the
    kept set without touching the other stage verdicts."""
    from ocr_module_spark.functions.model_score import weights_frame

    pages = corpus.pages_df(spark, 60)
    bench = spark.createDataFrame([(1, "nothing matches this")],
                                  "doc_id long, text string")
    _cur0, audit0 = curate.curate(spark, pages, bench)
    base_kept = audit0.where("kept").count()

    from ocr_module_spark import pipeline
    docs = (pipeline.extract(pages)
            .select(F.col("url").alias("doc_id"), "text"))
    # real vocabulary -> scores straddle the neutral line; the gate can
    # only shrink the kept set
    w_real = weights_frame(docs)
    _cur1, audit1 = curate.curate(spark, pages, bench,
                                  model_weights=w_real)
    kept_real = audit1.where("kept").count()
    assert kept_real <= base_kept
    # all-zero weights reject every scored doc
    w_zero = w_real.select("word", F.lit(0).alias("w_x1000"))
    _cur2, audit2 = curate.curate(spark, pages, bench,
                                  model_weights=w_zero)
    assert audit2.where("kept").count() == 0


def test_packed_bpe_realizes_mixture_repeats(spark, curated_audit):
    """packed_bpe_sequences(repeats=...): the token-id sink carries the
    same reweighting as the pack plan — total packed ids equal
    Σ n_bpe · n_repeats, and a zero-repeat doc vanishes."""
    from ocr_module_spark.functions import bpe
    from ocr_module_spark.pipeline import with_host
    from pyspark.sql import functions as F

    cur, _audit, _ = curated_audit
    cur_docs = cur.select(F.col("url").alias("doc_id"), "text")
    merges = bpe.train_bpe_merges(cur_docs, n_merges=4)
    vocab = bpe.bpe_vocab(bpe.corpus_alphabet(cur_docs), merges)
    enc = {r["doc_id"]: r["n_bpe"] for r in
           bpe.encode_corpus(cur_docs, merges, vocab).collect()}
    ids = sorted(enc)
    reps = {d: (0 if i == 0 else (3 if i == 1 else 1))
            for i, d in enumerate(ids)}
    rep_df = spark.createDataFrame(
        [(d, n) for d, n in reps.items()], "doc_id string, n_repeats long")
    seqs = bpe.packed_bpe_sequences(
        with_host(cur_docs, "doc_id"), merges, vocab,
        seq_len=64, key_col="url_host", repeats=rep_df).collect()
    assert sum(r["n_fill"] for r in seqs) == \
        sum(enc[d] * n for d, n in reps.items())
    """curate(langid=True): audit gains lang/pred_lang/lang_agree,
    counters gain the mismatch rollup, nothing is dropped, and the
    default audit schema stays untouched."""
    _cur, default_audit, _ = curated_audit
    assert "pred_lang" not in default_audit.columns   # opt-in only

    pages = corpus.pages_df(spark, 120)
    from ocr_module_spark import pipeline
    bench = (pipeline.extract(pages).select("url", "text")
             .where(F.xxhash64("url") % 11 == 3)
             .select(F.xxhash64("url").alias("doc_id"), "text")
             .localCheckpoint(eager=True))
    _base, audit0 = curate.curate(spark, pages, bench)
    _cur1, audit = curate.curate(spark, pages, bench, langid=True)
    audit = audit.localCheckpoint(eager=True)
    assert {"lang", "pred_lang", "lang_agree"} <= set(audit.columns)
    # verification only: keep decisions identical to the default chain
    k0 = {r["url"]: r["kept"] for r in audit0.collect()}
    assert {r["url"]: r["kept"] for r in audit.collect()} == k0
    rows = audit.collect()
    assert all(r["pred_lang"] is not None for r in rows)
    assert all(r["lang_agree"] == (r["lang"] == r["pred_lang"])
               for r in rows if r["lang"] is not None)
    # an unlabeled doc can neither agree nor mismatch
    assert all(r["lang_agree"] is None
               for r in rows if r["lang"] is None)
    c = curate.stage_counters(audit)
    assert c["docs_lang_mismatch"] == sum(not r["lang_agree"] for r in rows)
    assert c["docs_lang_und"] == sum(r["pred_lang"] == "und" for r in rows)
    # counters over the default audit must NOT grow the new keys
    assert "docs_lang_mismatch" not in curate.stage_counters(audit0)


def test_split_stage_on_chain(spark, curated_audit):
    """split_from_curated: every curated row gets a label, no host
    straddles, and the projection adds no shuffle."""
    from ocr_module_spark.pipeline import with_host

    cur, _audit, _ = curated_audit
    labeled = curate.split_from_curated(cur)
    rows = labeled.collect()
    assert len(rows) == cur.count()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    per_host = {}
    for r in with_host(labeled).select("url_host", "split").collect():
        per_host.setdefault(r["url_host"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_host.values())
    plan = labeled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_mixture_stage_constructed(spark):
    """mixture_from_curated on a constructed curated frame with
    hand-computable integer math: group masses 10000 (high) and 2500
    (mid) under budget 7500 give sqrt weights 100000/50000 → targets
    5000/2500 → epochs 500/1000 exactly — the mid tier repeats exactly
    once per doc, the high tier halves by lottery."""
    def hi_doc():                       # 50% stopwords → high tier
        return ("the data " * 50).strip()      # 100 words

    def mid_doc():                      # 20 words → mid tier (< 40)
        return ("the data " * 10).strip()

    rows = ([(f"https://h{i}.example/a", hi_doc()) for i in range(100)]
            + [(f"https://m{i}.example/b", mid_doc()) for i in range(125)])
    cur = spark.createDataFrame(rows, "url string, text string") \
        .selectExpr("url", "text",
                    "size(split(trim(text), '\\\\s+')) AS n_tokens")
    got = curate.mixture_from_curated(cur, budget=7_500).collect()
    by_tier = {}
    for r in got:
        by_tier.setdefault(r["tier"], []).append(r)
    assert set(by_tier) == {"high", "mid"}
    assert all(r["target_tokens"] == 5000 and r["epochs_x1000"] == 500
               for r in by_tier["high"])
    assert all(r["target_tokens"] == 2500 and r["epochs_x1000"] == 1000
               for r in by_tier["mid"])
    assert all(r["n_repeats"] == 1 for r in by_tier["mid"])
    assert {r["n_repeats"] for r in by_tier["high"]} == {0, 1}
    realized = sum(r["n_tokens"] * r["n_repeats"] for r in by_tier["high"])
    assert abs(realized - 5000) <= 2000     # lottery concentration


def test_mixture_pack_plan_on_chain(spark, curated_audit):
    """pack_plan_from_mixture: the pack plan covers exactly
    n_tokens * n_repeats per doc (url#epoch items), so upsampled docs
    occupy proportionally more of the training stream."""
    from collections import defaultdict

    cur, _audit, _ = curated_audit
    mixt = curate.mixture_from_curated(cur, budget=100_000) \
        .localCheckpoint(eager=True)
    plan = curate.pack_plan_from_mixture(cur, mixt, seq_len=32).collect()
    per_doc = defaultdict(int)
    epochs = defaultdict(set)
    for r in plan:
        d, e = r["url"].rsplit("#", 1)
        per_doc[d] += r["tok_end"] - r["tok_start"]
        epochs[d].add(int(e))
    want = {r["url"]: (r["n_tokens"] * r["n_repeats"], r["n_repeats"])
            for r in mixt.collect() if r["n_repeats"] > 0}
    assert per_doc == {d: t for d, (t, _r) in want.items()}
    assert {d: len(es) for d, es in epochs.items()} == \
        {d: r for d, (_t, r) in want.items()}


def test_shards_stage_on_chain(spark, curated_audit):
    """shards_from_pack_plan over the real pack plan: every packed
    sequence lands in exactly one shard, read order dense, token mass
    conserved vs the plan."""
    from ocr_module_spark.functions.packing import shard_manifest

    cur, _audit, _ = curated_audit
    plan = curate.pack_plan_from_curated(cur, seq_len=32) \
        .localCheckpoint(eager=True)
    sharded = curate.shards_from_pack_plan(plan, 4) \
        .localCheckpoint(eager=True)
    seqs = {(r["url_host"], r["seq_no"])
            for r in plan.select("url_host", "seq_no").collect()}
    rows = sharded.collect()
    assert {(r["url_host"], r["seq_no"]) for r in rows} == seqs
    assert len(rows) == len(seqs)
    man = shard_manifest(sharded).collect()
    plan_tokens = plan.selectExpr(
        "sum(tok_end - tok_start) AS t").first()["t"]
    assert sum(r["n_tokens"] for r in man) == plan_tokens
    assert sum(r["n_sequences"] for r in man) == len(seqs)


def test_encode_bpe_stage_on_chain(spark, curated_audit):
    """Mirrors tools/curate.py --train-bpe --encode-bpe --pack: merges
    trained on the curated corpus, ids over every curated document,
    BPE-id sequences packed per url-host — token counts must reconcile
    exactly across the three artifacts (the CLI's counters do the same
    sums)."""
    from ocr_module_spark.functions import bpe
    from ocr_module_spark.pipeline import with_host

    cur, _audit, _ = curated_audit
    cur_docs = cur.select(F.col("url").alias("doc_id"), "text")
    merges = bpe.train_bpe_merges(cur_docs, n_merges=6)
    vocab = bpe.bpe_vocab(bpe.corpus_alphabet(cur_docs), merges)
    enc = bpe.encode_corpus(cur_docs, merges, vocab).collect()
    assert enc and all(r["n_bpe"] == len(r["token_ids"]) for r in enc)
    assert all(0 <= i < bpe.vocab_size(vocab)
               for r in enc for i in r["token_ids"])
    total = sum(r["n_bpe"] for r in enc)
    assert total > 0

    L = 64
    seqs = bpe.packed_bpe_sequences(
        with_host(cur_docs, "doc_id"), merges, vocab,
        seq_len=L, key_col="url_host").collect()
    # every encoded token lands in exactly one sequence slot
    assert sum(r["n_fill"] for r in seqs) == total
    assert all(len(r["tokens"]) == r["n_fill"] for r in seqs)
    # every non-final sequence of a host is exactly full
    last = {}
    for r in seqs:
        last[r["url_host"]] = max(last.get(r["url_host"], -1), r["seq_no"])
    for r in seqs:
        assert r["n_fill"] == L or r["seq_no"] == last[r["url_host"]]


def test_normalize_stage_on_chain(spark):
    """curate(normalize=True) == canon(repair(curate-raw text)) per url
    (the textnorm kernel IS the stage — no second implementation), the
    audit flags agree with the rewrite, and the counters gain the two
    normalization keys without breaking the sum invariant."""
    from ocr_module_spark import pipeline
    from ocr_module_spark.functions.textnorm import (canon_str,
                                                     repair_mojibake_str)
    pages = corpus.pages_df(spark, 60)
    bench = (pipeline.extract(pages).select("url", "text")
             .where(F.xxhash64("url") % 17 == 3)
             .select(F.xxhash64("url").alias("doc_id"), "text")
             .localCheckpoint(eager=True))
    _, raw_audit = curate.curate(spark, pages, bench)
    _, norm_audit = curate.curate(spark, pages, bench, normalize=True)
    raw = {r["url"]: r["text"] for r in raw_audit.collect()}
    rows = norm_audit.collect()
    assert set(raw) == {r["url"] for r in rows}
    for r in rows:
        fixed, rep = repair_mojibake_str(raw[r["url"]])
        want = canon_str(fixed)
        assert r["text"] == want
        assert r["norm_changed"] == (want != raw[r["url"]])
        assert r["norm_repaired"] == rep
    c = curate.stage_counters(norm_audit)
    assert (c["docs_kept"] + c["dropped_quality"] + c["dropped_duplicate"]
            + c["dropped_contaminated"]) == c["docs_extracted"] == 60
    assert c["docs_normalized"] == sum(
        1 for r in rows if r["norm_changed"])
    assert c["docs_mojibake_repaired"] == sum(
        1 for r in rows if r["norm_repaired"])


def test_dsir_stage_on_chain(spark, curated_audit):
    """Smoke over the real extract→…→DSIR chain: min(k, survivors)
    selected, all drawn from the input set, bit-deterministic across
    reruns (the fixed-point log + hash-Gumbel make the selection an
    artifact, not a sample). The synthetic 200-page corpus is near-all
    template dups, so the fully-curated frame is tiny — the subset
    property (k < n) is exercised on the quality-passing slice, the
    k >= n saturation on the curated frame itself."""
    from ocr_module_spark import corpus

    cur, audit, _ = curated_audit
    pages = corpus.pages_df(spark, 200)

    # k >= n: every curated doc is selected, exactly once
    n_cur = cur.count()
    sel = curate.dsir_from_curated(cur, pages, target_lang="en", k=20)
    rows = [tuple(r) for r in sel.collect()]
    assert len(rows) == min(20, n_cur)
    assert {u for u, _, _ in rows} <= {r["url"] for r in cur.collect()}

    # k < n: a proper subset of the quality-passing slice, deterministic
    passing = audit.where("quality_keep").select("url", "text") \
        .localCheckpoint(eager=True)
    n_pass = passing.count()
    assert n_pass > 10, "fixture drift: quality gate kept too few"
    sub = curate.dsir_from_curated(passing, pages, target_lang="en",
                                   k=10)
    picked = [tuple(r) for r in sub.collect()]
    assert len(picked) == 10
    assert {u for u, _, _ in picked} <= {
        r["url"] for r in passing.collect()}
    again = [tuple(r) for r in
             curate.dsir_from_curated(passing, pages, target_lang="en",
                                      k=10).collect()]
    assert sorted(picked) == sorted(again)


def test_warc_container_to_loader_end_to_end(spark, tmp_path, monkeypatch,
                                             capsys):
    """The composed artifact a new user runs first (VERDICT r4 ask #7):
    ONE CLI invocation — raw ``.warc.gz`` in; ``shards_bpe`` token-id
    loader files + datacard + WET containers out — with counter
    conservation asserted across the WHOLE chain: every curated doc is
    in the WET export, the datacard total, and the token-id table, and
    every encoded token id lands in exactly one packed sequence and one
    shard file."""
    import importlib.util
    import json
    import pathlib

    from ocr_module_spark import pipeline
    from ocr_module_spark.sources import warc as W

    # raw crawl container (the WARC writer is byte-deterministic)
    recs = [{"url": r["url"], "warc_ts": r["warc_ts"], "html": r["html"]}
            for r in corpus.rows(200)]
    blob, _ = W.build_warc_gz(recs)
    wdir = tmp_path / "crawl"
    wdir.mkdir()
    (wdir / "part-00000.warc.gz").write_bytes(blob)

    # decontamination benchmark: extracted text of a hash-slice (same
    # synthetic pages, so the curate chain's extraction matches)
    bench = (pipeline.extract(corpus.pages_df(spark, 200))
             .select("url", "text")
             .where(F.xxhash64("url") % 11 == 3)
             .select(F.xxhash64("url").alias("doc_id"), "text"))
    bench_p = str(tmp_path / "bench.parquet")
    bench.write.mode("overwrite").parquet(bench_p)

    out = str(tmp_path / "out")
    repo = pathlib.Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "curate_cli", repo / "tools" / "curate.py")
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    monkeypatch.setattr("sys.argv", [
        "curate.py", "--input", str(wdir), "--input-format", "warc",
        "--bench", bench_p, "--output", out,
        "--wet", "--wet-files", "2",
        "--train-bpe", "4", "--encode-bpe", "--pack", "64",
        "--shards", "4", "--datacard"])
    assert cli.main() == 0
    counters = json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])

    # stage accounting sums (the audit invariant), and the chain kept
    # a non-trivial corpus
    kept = counters["docs_kept"]
    assert kept > 0
    assert counters["docs_extracted"] == (
        kept + counters["dropped_quality"]
        + counters["dropped_duplicate"]
        + counters["dropped_contaminated"])
    # the bench slice fired: flagged on the audit (the counter only
    # counts docs no EARLIER gate already dropped, which can be zero)
    audit = spark.read.parquet(f"{out}/audit")
    assert audit.where("contaminated").count() > 0

    # every curated doc reaches every sink
    curated = spark.read.parquet(f"{out}/curated")
    assert curated.count() == kept
    wet = W.read_wet(spark, f"{out}/wet/*.warc.wet.gz")
    assert counters["wet_records"] == kept == wet.count()
    card = {(r["dim"], r["value"]): r
            for r in spark.read.parquet(f"{out}/datacard").collect()}
    assert card[("total", "")]["n_docs"] == kept
    tok = spark.read.parquet(f"{out}/token_ids")
    assert tok.count() == kept

    # token conservation: encoded ids == packed ids == sharded ids
    total_ids = tok.selectExpr("sum(n_bpe) AS n").first()["n"]
    assert counters["bpe_tokens_total"] == total_ids > 0
    packs = spark.read.parquet(f"{out}/packs_bpe")
    assert packs.selectExpr("sum(n_fill) AS n").first()["n"] == total_ids
    assert counters["bpe_sequences_packed"] == packs.count()
    assert counters["bpe_shard_tokens"] == total_ids
    shard_data = spark.read.parquet(f"{out}/shards_bpe/data")
    assert shard_data.selectExpr("sum(size(tokens)) AS n") \
        .first()["n"] == total_ids
    assert 1 <= counters["bpe_shards"] <= 4

    # the WET export carries the curated bytes verbatim
    wtext = {r["url"]: r["text"] for r in wet.collect()}
    for r in curated.select("url", "text").collect():
        assert wtext[r["url"]] == r["text"]


def _sql_actions(spark, after: int) -> list:
    """(execution id, action, call site) of every SQL execution newer
    than ``after``, read off the SQL status store (descriptions read
    ``'<action> at <call site>'``)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = (spark._jsparkSession.sharedState().statusStore()
          .executionsList().iterator())
    out = []
    while it.hasNext():
        e = it.next()
        if e.executionId() > after:
            action, _, site = e.description().partition(" at ")
            out.append((e.executionId(), action, site))
    return out


def test_cli_counters_ride_on_the_writes(spark, tmp_path, monkeypatch,
                                         capsys):
    """The CLI with every text, graph, mix, split, training-sink and
    annotation stage on: each counter equals what re-reading its
    artifact gives, and the only counting actions the run spends are
    the bounded ones tools/curate.py names — everything else rides on
    the writes and eager checkpoints through sinks.observe."""
    import importlib.util
    import json
    import pathlib

    from ocr_module_spark import pipeline
    from ocr_module_spark.sources import warc as W

    recs = [{"url": r["url"], "warc_ts": r["warc_ts"], "html": r["html"]}
            for r in corpus.rows(200)]
    (tmp_path / "crawl").mkdir()
    (tmp_path / "crawl" / "part-00000.warc.gz").write_bytes(
        W.build_warc_gz(recs)[0])
    bench_p = str(tmp_path / "bench.parquet")
    (pipeline.extract(corpus.pages_df(spark, 200))
     .where(F.xxhash64("url") % 11 == 3)
     .select(F.xxhash64("url").alias("doc_id"), "text")
     .write.parquet(bench_p))
    words = tmp_path / "badwords.txt"
    words.write_text("lorem\nipsum\ncrawler\n")

    repo = pathlib.Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "curate_cli", repo / "tools" / "curate.py")
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    out = str(tmp_path / "out")
    monkeypatch.setattr("sys.argv", [
        "curate.py", "--input", str(tmp_path / "crawl"),
        "--input-format", "warc", "--bench", bench_p, "--output", out,
        "--strip-boilerplate", "--line-filter", "--span-dedup",
        "--link-graph", "--host-stats", "--budget-mix", "--dsir", "20",
        "--split", "--mixture", "20000", "--pack", "64", "--shards", "4",
        "--train-bpe", "4", "--encode-bpe", "--embed", "--lm-tiers",
        "--badwords", str(words), "--datacard", "--wet",
        "--wet-files", "2", "--compress-stats"])
    seen = max([i for i, _, _ in _sql_actions(spark, -1)], default=-1)
    assert cli.main() == 0
    acts = _sql_actions(spark, seen)
    counters = json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])

    def sites(action):
        return [s for _, a, s in acts if a == action]
    # stage_counters' one aggregation
    assert len(sites("first")) == 1
    assert "ocr_module_spark/curate.py" in sites("first")[0]
    # host_centrality's node count and the --line-filter doc_drop census
    assert len(sites("count")) == 2
    # the --split census and the shard manifest; the engine's own
    # bounded collects (BPE, WET and shard manifests) are not the CLI's
    assert len([s for s in sites("collect")
                if "tools/curate.py" in s]) == 2

    def n(part, where="true"):
        return spark.read.parquet(f"{out}/{part}").where(where).count()

    def total(part, expr):
        return spark.read.parquet(f"{out}/{part}") \
            .selectExpr(f"coalesce(sum({expr}), 0)").first()[0]

    per_shard = [r["count"] for r in spark.read.parquet(f"{out}/shards")
                 .groupBy("shard_id").count().collect()]
    want = {
        "docs_extracted": n("audit"),
        "docs_kept": n("audit", "kept"),
        "dropped_quality": n("audit", "NOT quality_keep"),
        "graph_hosts": n("hostgraph"),
        "hosts_blocked": n("hosts", "blocked"),
        "docs_mixed": n("mix"),
        "tokens_mixed": total("mix", "n_tokens"),
        "docs_dsir_selected": n("dsir"),
        "wet_files": n("wet/manifest"),
        "wet_records": total("wet/manifest", "n_records"),
        "docs_embedded": n("embeddings"),
        "docs_too_repetitive": n("compress_stats", "too_repetitive"),
        "docs_incompressible": n("compress_stats", "incompressible"),
        "docs_ppl_head": n("lm_tiers", "ppl_tier = 'head'"),
        "docs_ppl_middle": n("lm_tiers", "ppl_tier = 'middle'"),
        "docs_ppl_tail": n("lm_tiers", "ppl_tier = 'tail'"),
        "lm_model_rows": n("lm_model"),
        "docs_badwords_flagged": n("badwords", "bad_flag"),
        "datacard_rows": n("datacard"),
        "datacard_example_rows": n("datacard_examples"),
        "docs_train": n("curated", "split = 'train'"),
        "docs_val": n("curated", "split = 'val'"),
        "docs_test": n("curated", "split = 'test'"),
        "docs_mixture_excluded": n("curated", "split = 'train'")
        - n("mixture"),
        "docs_mixture": n("mixture"),
        "docs_upsampled": n("mixture", "n_repeats >= 2"),
        "docs_subsampled_out": n("mixture", "n_repeats = 0"),
        "tokens_realized": total("mixture", "n_tokens * n_repeats"),
        "sequences_packed": spark.read.parquet(f"{out}/packs")
        .select("url_host", "seq_no").distinct().count(),
        "tokens_packed": total("packs", "tok_end - tok_start"),
        "shards": len(per_shard),
        "shard_sequences_min": min(per_shard),
        "shard_sequences_max": max(per_shard),
        "bpe_merges": n("bpe_merges"),
        "bpe_tokens_total": total("token_ids", "n_bpe"),
        "bpe_sequences_packed": n("packs_bpe"),
        "bpe_shards": n("shards_bpe/manifest"),
        "bpe_shard_tokens": total("shards_bpe/manifest", "n_tokens"),
    }
    assert {k: counters[k] for k in want} == want
    assert counters["docs_kept"] > 0 and counters["sequences_packed"] > 0
