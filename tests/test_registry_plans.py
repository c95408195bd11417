"""Catalog-wide scale-killer sweep: EVERY registered query's physical
plan is checked for the three patterns that do not survive a 100×
scale-up — row-at-a-time Python UDFs (BatchEvalPython), unbounded
cartesian pairings, and nested-loop joins that are not deliberate
broadcast-bounded designs. test_plans.py pins per-query positive
properties; this sweep guarantees the NEGATIVE property across the whole
catalog, so a new or edited query cannot quietly regress into a
quadratic plan."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

# nested-loop joins that are the documented design, every BNLJ input a
# broadcast side bounded by the operator's own budget:
# - ann_recall_eval: brute-force truth side vs the broadcast hash-sampled
#   probe frame (|sample| x corpus IS the eval budget), plus the trivial
#   1-row x 1-row combine of the two count aggregates
# - text_langid_eval: the trained weight grid is vocab x language-list x
#   1-row language-count — two cross products of model-sized frames,
#   both build sides broadcast
# - host_link_centrality: per-round dangling-mass fold-back is a
#   crossJoin against a broadcast 1-row aggregate (plus the demo's
#   broadcast 1-row max-doc_id frame) — both build sides single-row
# - text_lm_perplexity: the unk-floor row (ord=0) and the trainer's
#   total-token frame are broadcast 1-row crossJoins (model constants)
# - host_anchor_texts: the DEMO derives pseudo-links via the same
#   broadcast 1-row max-doc_id frame as host_link_centrality; the
#   production path (extract_links -> rollup) has no cross join
BNLJ_OK = {"ann_recall_eval", "text_langid_eval", "host_link_centrality",
           "text_lm_perplexity", "host_anchor_texts",
           # text_dsir_select: the smoothing-totals frame is a broadcast
           # 1-row aggregate crossJoined onto the <=DSIR_DIM-row model
           "text_dsir_select",
           # knn_brute_cosine: the corpus is crossJoined against the
           # broadcast 1-row query vector (one dot product per row)
           "knn_brute_cosine"}

_QUERIES = sorted((name, fn) for name, (fn, _sql)
                  in entry_mod.catalog().items())


def test_driver_window_is_pinned():
    """The driver checks the first 50 rows of queries() in dict order:
    the window is exactly DRIVER_WINDOW, 50 unique names, all oracled,
    and every hostile-corpus query resolves through the catalog."""
    from test_hostile_parity import DOC_QUERIES

    window = entry_mod.DRIVER_WINDOW
    assert list(entry_mod.queries()) == list(window)
    assert len(window) == len(set(window)) == 50
    assert set(entry_mod.oracle_sql()) == set(window)
    assert set(DOC_QUERIES) <= set(entry_mod.catalog())


@pytest.mark.parametrize("name,fn", _QUERIES, ids=[n for n, _ in _QUERIES])
def test_no_scale_killers_in_plan(spark, sf_dir, name, fn):
    plan = (fn(spark, sf_dir)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, \
            f"{name}: unexpected nested-loop join"
