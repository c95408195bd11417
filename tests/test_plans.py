"""Physical-plan assertions: the scale discipline SURVEY.md §4.2 commits
to must be visible in the executed plan, not just intended. Each test pins
the property that matters at 100 TB (pushdown, broadcast vs shuffle,
partial aggregation, exchange count); regressions that silently change the
plan shape fail here before they cost anything on a cluster."""

from __future__ import annotations

import re

import pytest

from ocr_module_spark.operators import relational as R


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _split_lambdas(plan: str) -> int:
    """Number of ``lambdafunction(...)`` bodies in a plan string that
    evaluate ``split(``: each one re-splits the text once per array
    element, which Catalyst produces when it inlines a computed array
    column into a lambda (e.g. under an explode's inferred filter)."""
    n = 0
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        n += "split(" in plan[m.end():i]
    return n


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_star_join_broadcasts_all_dims(spark, sf):
    """All four dims broadcast — at scale only the fact table shuffles."""
    plan = _plan(R.q_broadcast_star_join(spark, sf))
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_pricing_summary_pushdown_and_partial_agg(spark, sf):
    """Filter reaches the parquet scan; aggregation is two-phase
    (map-side partial before the exchange)."""
    plan = _plan(R.q_pricing_summary(spark, sf))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_pricing_summary_column_pruning(spark, sf):
    """Scan reads only the needed columns, not the 16-column lineitem."""
    df = R.q_pricing_summary(spark, sf)
    # FileScan's 'output' list is the pruned column set (the ReadSchema
    # string in toString() is truncated, so assert on the scan node's
    # output attributes instead)
    plan = _plan(df)
    start = plan.index("FileScan parquet [")
    scan_cols = plan[start:plan.index("]", start)]
    for col in ("l_quantity", "l_extendedprice", "l_discount",
                "l_returnflag", "l_linestatus", "l_shipdate"):
        assert col in scan_cols, scan_cols
    assert "l_comment" not in scan_cols, scan_cols
    assert "l_partkey" not in scan_cols, scan_cols


def test_range_containment_is_hash_join_not_bnlj(spark, sf):
    """J10: the offset-bucket trick turns the interval join into a hash
    join — a BroadcastNestedLoopJoin here would be quadratic at scale."""
    plan = _plan(R.q_range_containment_join(spark, sf))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan


def test_anti_join_stays_anti(spark, sf):
    plan = _plan(R.q_resume_anti_join(spark, sf))
    assert "LeftAnti" in plan, plan


def test_semi_join_stays_semi(spark, sf):
    plan = _plan(R.q_semi_join_nonempty(spark, sf))
    assert "LeftSemi" in plan, plan


def test_dense_ids_single_shuffle(spark, sf):
    """W1: one exchange (the window partition), nothing else."""
    plan = _plan(R.q_dense_id_assignment(spark, sf))
    assert plan.count("Exchange") == 1, plan


def test_salted_agg_two_stage_single_wide_shuffle(spark, sf):
    """The salted pattern: partial agg on (key, salt) then final on key —
    exactly two exchanges total ((key,salt) then key), both after partial
    aggregation."""
    plan = _plan(R.q_salted_skew_agg(spark, sf))
    assert plan.count("Exchange") == 2, plan
    assert plan.count("HashAggregate") >= 3, plan


def test_whole_stage_codegen_everywhere(spark, sf):
    """Scalar pipelines stay inside WholeStageCodegen (no interpreted
    row-at-a-time stages)."""
    for q in (R.q_pricing_summary, R.q_orientation_normalize,
              R.q_token_split_count):
        df = q(spark, sf)
        df.collect()  # AQE reveals codegen markers only in the final plan
        plan = _plan(df)
        # executedPlan().toString() marks codegen'd nodes with "*(id)"
        assert "*(1)" in plan, plan


def test_ivf_assignment_is_shuffle_free_projection(spark, sf):
    """IVF cell assignment must be a single argmax projection: zero
    exchanges, zero row blowup (the old crossJoin + row_number window
    shuffled every vector NLIST times). The full probe query may only
    broadcast (the tiny query-cells side) — never a shuffle exchange."""
    from pyspark.sql import functions as F
    from ocr_module_spark.functions import simsearch as S
    e = S._emb(spark, sf)
    cents = {r["vec_id"]: list(r["vec"]) for r in
             e.where(F.col("vec_id") < S.NLIST)
              .select("vec_id", "vec").collect()}
    plan = _plan(S.ivf_assign(e, cents))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    full = _plan(S.q_ann_ivf_probe(spark, sf))
    assert "Exchange hashpartitioning" not in full, full


def test_enrich_roundtrip_single_scan_single_shuffle(spark, sf):
    """The enrichment chain must scan the source ONCE and shuffle ONCE:
    the (url, section_id) window exchange is reused by the chunk window
    and the prompt aggregation (superset grouping keys), disassembly is
    keyed array logic with no join, and the Q2 short-circuit is a per-row
    when() — the r1 branch-split plan scanned documents.parquet 3x."""
    from ocr_module_spark.operators.enrichment import q_enrich_roundtrip
    df = q_enrich_roundtrip(spark, sf)
    df.collect()  # final AQE plan
    # executed AQE plans print '== Final Plan ==' AND '== Initial Plan ==';
    # count nodes in the final section only
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "Join" not in plan, plan


def test_extraction_queries_have_no_python_row_udf(spark, sf):
    """input_hint bans per-row Python: plans may contain ArrowEvalPython /
    MapInPandas (vectorized) but never BatchEvalPython (pickled row UDF)."""
    from ocr_module_spark.operators import extraction as E
    for q in (E.q_extract_text, E.q_extract_nodes, E.q_extract_sections):
        plan = _plan(q(spark, sf))
        assert "BatchEvalPython" not in plan, plan


def test_decon_embedding_knn_is_broadcast_equi_join(spark, sf):
    """Batch-query kNN (the decontamination join): the benchmark probe
    side broadcasts and the corpus joins it on the (band, bucket) key —
    a hash join, never a nested-loop / cartesian pairing. At 10^12
    corpus vectors this is the difference between 'bounded by bucket
    collisions' and 'corpus x benchmark'."""
    from ocr_module_spark.functions.decontam import q_decon_embedding_knn
    plan = _plan(q_decon_embedding_knn(spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_decon_ngram_flags_broadcasts_benchmark_side(spark, sf):
    """The shingle-collision join broadcasts the (eval-bench-sized)
    benchmark shingle set; the corpus is never shuffled for the join."""
    from ocr_module_spark.functions.decontam import q_decon_ngram_flags
    plan = _plan(q_decon_ngram_flags(spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_shingles_never_resplit_the_text(spark, sf):
    """The word shingles (dedup.shingle_sql_spark) reference the token
    array only outside their lambda. The explode's inferred
    ``size(ss) > 0`` filter inlines ``w = split(trim(text), ...)``; with
    ``w[i]`` inside the lambda that re-split the whole text per shingle
    (4 such lambdas in ngram_flags_frame, 2 under a bare explode)."""
    from pyspark.sql import functions as F

    from ocr_module_spark.functions.decontam import (q_decon_ngram_flags,
                                                     shingled_frame)
    from ocr_module_spark.functions.dedup import q_dedup_ngram_jaccard
    from ocr_module_spark.streaming.incremental import stream_decon_flags
    d = spark.read.parquet(f"{sf}/documents.parquet")
    pages = d.select(F.col("doc_id").cast("string").alias("url"), "text")
    for df in (q_decon_ngram_flags(spark, sf),
               shingled_frame(d).select(F.explode("ss")),
               q_dedup_ngram_jaccard(spark, sf),
               stream_decon_flags(pages, d.select("doc_id", "text"))):
        plan = _optimized(df)
        assert _split_lambdas(plan) == 0, plan


def test_curate_audit_reads_quality_from_the_docs_checkpoint(spark):
    """curate() carries the Gopher verdict as a column of the docs
    checkpoint: the passing filter and the audit base read it there
    instead of joining quality_frame back on doc_id. Those two joins
    appear as four Join nodes in the audit's optimized plan (the
    passing frame feeds three subtrees: the dedup decisions and the
    decontamination flags' shingle side and doc list), so the plan
    went from 10 Join nodes to 6; none of quality_frame's PII regexes
    is evaluated. The audit joins only the docs with a shingle
    (decontam.ngram_hits_frame) and coalesces the rest to not
    contaminated, so the flags' doc-list join is gone too: 5."""
    from ocr_module_spark import corpus, curate
    from ocr_module_spark.functions.textstats import (PII_EMAIL, PII_IPV4,
                                                      PII_PHONE)
    bench = spark.createDataFrame([(1, "nothing matches this")],
                                  "doc_id long, text string")
    _cur, audit = curate.curate(spark, corpus.pages_df(spark, 40), bench)
    plan = _optimized(audit)
    assert len(re.findall(r"\bJoin ", plan)) == 5, plan
    for rx in (PII_EMAIL, PII_IPV4, PII_PHONE):
        assert rx not in plan, plan


def test_recall_eval_brute_side_bounded_by_broadcast_sample(spark, sf):
    """Sampled recall eval: the brute-truth pairing is NOT a join at
    all — the sampled query matrix rides the mapInArrow closure (one
    corpus Arrow pass, narrow (pos, dot) explode after), so the only
    nested-loop node left is the trivial 1-row x 1-row combine of the
    two count aggregates. The ANN side joins on the bucket key (hash
    join). No unbroadcast cartesian anywhere."""
    from ocr_module_spark.functions.simsearch import q_ann_recall_eval
    plan = _plan(q_ann_recall_eval(spark, sf))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "MapInArrow" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_signature_builds_are_shuffle_free_projections(spark, sf):
    """MinHash signatures and SimHash must be pure per-row projections
    (array_min/filter over the token array): zero exchanges, zero row
    blowup. The explode + groupBy forms they replaced shuffled one row
    per doc and multiplied rows |tokens|x — at 10^12 docs that made the
    root of the LSH chain the biggest shuffle in the pipeline."""
    from ocr_module_spark.functions.dedup import (q_dedup_minhash,
                                                  q_dedup_simhash)
    for q in (q_dedup_minhash, q_dedup_simhash):
        plan = _plan(q(spark, sf))
        assert "Exchange" not in plan, plan
        assert "Generate" not in plan, plan  # no explode


def test_mm_features_single_scan_no_join(spark, sf):
    """The merged media row (metadata + features + resize) must be ONE
    scan with the JVM columns riding through the Arrow stage — not a
    second scan joined back (at 10^12 rows that join shuffles both
    sides)."""
    from ocr_module_spark.functions.multimodal import q_mm_features
    plan = _plan(q_mm_features(spark, sf))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_bucketed_join_is_co_located_no_shuffle(spark, sf):
    """Bucketing for co-located joins (SURVEY §4.2: the Iceberg
    bucket(url) layout, Spark-native form): two tables bucketed on the
    join key join with ZERO exchanges — at 100 TB this converts the
    biggest repeated shuffle (fact-fact joins on a shared key) into
    bucket-aligned local scans. Broadcast is disabled for the assertion
    so the no-shuffle property comes from bucketing, not table size."""
    from pyspark.sql import functions as F
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    od = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    (od.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable("b_orders"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable("b_lineitem"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (spark.table("b_orders")
             .join(spark.table("b_lineitem"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .groupBy("o_orderstatus")
             .agg(F.count("*").alias("n")))
        j.collect()
        plan = _plan(j).split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in plan, plan
        # the join itself reads bucket-aligned scans: no exchange below
        # it (the only exchange allowed is the final groupBy rollup)
        join_part = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_part, join_part
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
