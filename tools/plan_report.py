"""Generate PLANS.md: formatted physical plans of the headline queries.

The scale discipline (pushdown, pruning, broadcast, partial aggregation,
whole-stage codegen, zero-exchange extraction) is asserted by
tests/test_plans.py and tests/test_registry_plans.py; this report makes
it inspectable. PLANS.md is generated on demand, not committed.

    python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

QUERIES = [
    ("extract_text", "flagship extraction — scan-aligned, zero exchanges "
     "after the scan; one Arrow stage does parse→classify→assemble"),
    ("agg_pricing_summary", "grouped aggregation — filter pushed to the "
     "parquet scan, two-phase hash aggregation, whole-stage codegen"),
    ("join_broadcast_star", "star join — all four dimensions broadcast, "
     "only the fact side shuffles"),
    ("join_range_containment", "range join — offset-bucket equi-join + "
     "residual filter; no BroadcastNestedLoopJoin"),
    ("window_running_counter", "prefix-sum window — single exchange on "
     "the partition key"),
    ("decon_embedding_knn", "batch-query kNN join (eval-set "
     "decontamination) — benchmark probe side broadcast, corpus joined "
     "on the banded sign-LSH (band, bucket) key, top-k per query via "
     "window over candidates only"),
    ("decon_ngram_flags", "n-gram decontamination flags — benchmark "
     "shingle set broadcast, one corpus explode + equi-join + "
     "per-doc rollup"),
    ("enrich_roundtrip", "enrichment chain — ONE source scan, ONE "
     "shuffle on the (url, section) batch key, zero joins (keyed "
     "disassembly is per-chunk array logic)"),
    ("ann_ivf_probe", "IVF-flat ANN — cell assignment is a shuffle-free "
     "argmax projection against the literal centroid matrix; only the "
     "tiny query-cells side broadcasts"),
    ("knn_brute_cosine", "brute-force cosine top-k — 1-row query "
     "broadcast, JVM HOF dot folds (the r5 A/B winner for the "
     "3-dots-per-row shape; the Arrow kernel stays on many-dots-per-row "
     "paths), TakeOrdered top-k, no hash exchange"),
    ("extract_document_json", "S9 Document JSON — nested to_json built "
     "JVM-side in the same zero-exchange stage as the extraction"),
    ("dedup_jaccard_pairs", "near-dup verification — MinHash-LSH "
     "band-collision candidates equi-joined to per-doc token sets; "
     "array-intersect per candidate, never an all-pairs join"),
    ("text_repetition", "Gopher repetition filters — per-doc n-gram "
     "frequency via sorted gram arrays + one linear in-row aggregate "
     "scan; zero exchanges, zero row blowup"),
    ("dedup_spans", "C4-style exact span dedup — span build is a per-row "
     "projection; duplicate decision is ONE partial-aggregated groupBy "
     "on the span hash; verdict + ordered reassembly are keyed "
     "equi-join/agg exchanges, no all-pairs"),
    ("curate_budget_mix", "token-budget mixture selection — salted "
     "two-phase per-source cap (no hot-host single task), bucketed "
     "prefix-sum budget cutoff: per-(tier, bucket) running-sum windows "
     "+ a broadcast 192-row offset join; never a tier-only row window"),
    ("curate_pack_sequences", "sequence packing plan — ONE window "
     "exchange on the source key, RNG-free hash document order, "
     "explode bounded by n_tokens/SEQ_LEN+1; no join at all"),
    ("curate_pack_materialize", "packed-sequence sink — the plan "
     "equi-joined back to per-doc token arrays (text rides the join "
     "once, never the window); assembly is one groupBy with "
     "array_sort-by-offset reconstruction, no second window"),
    ("text_model_score", "classifier quality gate — weights table "
     "BROADCAST joined to exploded tokens (corpus never shuffles "
     "tokens), per-doc score via partial-aggregated groupBy"),
    ("fn_url_canonicalize", "URL canonicalization — one zero-exchange "
     "regex/array projection; no Python, no shuffle"),
    ("text_langid_eval", "trained char-trigram language-ID — weight "
     "grid built from broadcast model-sized frames, grid BROADCAST "
     "joined to exploded trigrams (text never shuffles), argmax via "
     "one window over the narrow (doc, lang) frame"),
    ("host_reputation", "host-level quality rollup + crawl blocklist — "
     "the Gopher gate and the per-host aggregation share ONE scan (no "
     "join), text md5-hashed before the distinct count so documents "
     "never ride the aggregation shuffle"),
    ("snapshot_diff", "cross-snapshot corpus diff — each side reduced "
     "to (key, md5 fingerprint) before ONE full-outer equi-join; "
     "presence via marker columns so NULL-content docs diff unchanged "
     "under null-safe equality"),
    ("curate_split", "leakage-safe train/val/test split — the label is "
     "a hash projection of the GROUP key alone (no group straddles by "
     "construction), rollup ONE partial-agg groupBy to 3 rows; zero "
     "windows, zero joins"),
    ("curate_split_leakage", "split-leakage audit — near-dup cluster "
     "labels (the keep-list's own LSH→CC chain) equi-joined to the "
     "split projection, two partial-agg rollups; measures cross-host "
     "straddle the host-keyed split cannot prevent"),
    ("curate_split_repair", "split repair — straddling clusters routed "
     "to the canonical member's split: one cluster-grain min_by "
     "aggregation + one LEFT equi-join on doc_id over the same LSH→CC "
     "labels the audit reads"),
    ("curate_mixture_epochs", "temperature-sampled mixture epochs — doc "
     "grain never shuffles (two partial-agg passes to group grain); the "
     "sqrt-weight plan is group-grain with a single-partition window "
     "over ~dozens of rows, rejoined as a null-safe BROADCAST hash "
     "join; per-doc repeats are a hash-lottery projection"),
    ("curate_shards", "training-shard assignment — sequence grain is "
     "one partial-agg groupBy of the packing plan (ids and counts "
     "only), shard id a portable-hash projection, read order ONE "
     "window exchange on shard_id whose per-shard partition is one "
     "output file's rows"),
    ("dedup_exactsubstr", "ExactSubstr arbitrary-alignment run dedup — "
     "winnowing anchors are an in-row HOF projection (no suffix array, "
     "no shuffle before anchors exist); the duplicate decision is ONE "
     "partial-agg groupBy on the anchor hash; verification fetches "
     "bounded word windows via equi-joins and extends matches with "
     "zip_with word-compare JVM-side; interval merge + rewrite are one "
     "doc-grain agg + join — no all-pairs anywhere"),
    ("dedup_incremental", "incremental cross-snapshot dedup — exact "
     "flag is a LEFT SEMI membership probe on the norm key (k indexed "
     "copies cost one probe); near-dup candidates stream the index "
     "once against the BROADCAST distinct batch arrays on 2-minhash "
     "keys (exact by pigeonhole), each hit verified by its positional "
     "agreement count; only verified hits shuffle, then one per-doc "
     "aggregation; no grouping of the index, no all-pairs"),
    ("text_boilerplate_lines", "host-level boilerplate line stripping — "
     "one exploded-lines partial-agg census (doc text never rides that "
     "shuffle) + a BROADCAST flag-array join with in-row "
     "filter/array_join reassembly"),
    ("text_line_quality", "C4/RefinedWeb line-wise quality rules — a "
     "pure zero-exchange in-row projection (integer ratios over the "
     "split array; scan speed)"),
    ("text_embed_hash", "signed feature-hash embeddings — one explode "
     "+ two narrow partial-agg groupBys; the dense vector assembles "
     "from a bucket map lookup, order-free; integer artifact"),
    ("text_normalize", "unicode canon pass — ONE mapInPandas Arrow "
     "stage computes repair + all five steps + counters in-batch; zero "
     "exchanges, text never shuffles"),
    ("text_lm_perplexity", "Stupid-Backoff trigram LM — in-row trigram "
     "structs (no array duplication), sample-sized count groupBys, "
     "THREE broadcast scoring joins + 1-row unk crossJoin, one "
     "doc-grain agg, per-lang integer tercile window"),
    ("text_dsir_select", "DSIR importance selection — gram strings hash "
     "to integer buckets BEFORE the exchange (doc text never shuffles), "
     "the two bag-of-ngrams models are ≤1024-row bucket rollups joined "
     "via one BROADCAST log-ratio table, the fixed-point log2 recurrence "
     "is a constant-width whole-stage-codegen projection chain, and the "
     "Gumbel-top-k is TakeOrdered — never a global sort"),
    ("text_model_auc", "tie-aware ROC-AUC of the model gate "
     "(Mann-Whitney rank form, integer end-to-end) — the corpus reduces "
     "FIRST through one partial-aggregated groupBy(score) census; the "
     "one-partition running-sum window then runs over the quantized "
     "score GRID (≤2001 rows at any corpus size), never per-document "
     "rows; one row out"),
    ("text_model_auc_holdout", "held-out AUC — identical census-then-"
     "grid-window shape as text_model_auc; the train/holdout folds are "
     "scan-level filter predicates ahead of the model-score joins, so "
     "the composition adds zero exchanges of its own"),
    ("text_badwords", "C4-style policy-wordlist filter — the list rides "
     "the plan as an ARRAY LITERAL (broadcast-by-constant: no join, no "
     "shuffle, no Python); whole-token set-intersection verdict in a "
     "zero-exchange scan-speed projection"),
    ("text_datacard", "corpus datasheet in ONE pass — GROUPING SETS "
     "((), (lang), (len_digits)) over a narrow projection: the 3-column "
     "pruned scan drops document text BEFORE the Expand, so the ×3 row "
     "multiplication and both exchanges carry ~50 B rows; the "
     "distinct-host count is the standard two-phase aggregate; "
     "join-free, kilobytes out at any corpus size"),
    ("text_datacard_exemplars", "exemplar docs per datasheet group — "
     "the hash lottery rides a NARROW (dim, value, hk, doc_id) frame "
     "through a bucketed two-phase top-k (per-(group, hk%64) window "
     "then a window over <= 64k survivors — the corpus-sized 'total' "
     "group never lands on one reducer); winners BROADCAST back onto "
     "the (doc_id, n_tokens, preview) projection, so document text "
     "never shuffles"),
    ("host_link_centrality", "host-graph PageRank (fixed-point int64), "
     "shown at rounds=1 — every round has this same shape: ONE "
     "equi-join of host-grain ranks into the static outdeg-carrying "
     "edge frame + ONE partial-agg groupBy on dst; dangling mass folds "
     "back via a broadcast 1-row aggregate; no all-pairs, no "
     "driver-side graph"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry_mod
    from ocr_module_spark.session import get_spark

    spark = get_spark("plan-report", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = {name: fn for name, (fn, _sql) in entry_mod.catalog().items()}
    # the report shows the per-round plan (rounds=1); the 3-round
    # unrolled parity query is the same shape repeated ~2700 nodes deep
    from ocr_module_spark.functions import linkgraph
    qs["host_link_centrality"] = linkgraph.q_link_centrality_round_plan

    out = ["# PLANS — physical plans of the headline queries",
           "",
           f"Generated by `python tools/plan_report.py {sf_dir}` "
           "(PySpark 4.1.2, AQE on). The properties these plans exhibit "
           "are pinned by tests/test_plans.py.", ""]
    for name, blurb in QUERIES:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out += [f"## {name}", "", blurb, "", "```", plan.rstrip(), "```", ""]
    (REPO / "PLANS.md").write_text("\n".join(out))
    spark.stop()
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
