"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction over the deterministic
synthetic crawl. ``catalog()`` holds every implemented operator from
SURVEY.md §2 plus the training-data-pipeline suites (dedup / similarity
search / text analysis), each with its DuckDB oracle where the semantics
are SQL-expressible; ``queries()``/``oracle_sql()`` are the catalog
restricted to the driver's 50-row ``DRIVER_WINDOW``. Extraction queries
are checked against SQL over committed golden fixtures.
"""

from __future__ import annotations

import importlib
import pathlib
import pkgutil
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full main-content extraction at smoke scale."""
    from ocr_module_spark.operators.extraction import q_extract_text
    return q_extract_text(spark, "/root/testdata/sf0.001")


def catalog() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame],
                                  str | None]]:
    """Every registered query: ``name -> (q_fn, oracle SQL | None)``,
    merged from the ``REGISTRY`` dict of each ``operators``/``functions``
    module. A module's ``REGISTRY`` is the only place a query is
    registered; a name registered twice is an error."""
    out: dict = {}
    owner: dict[str, str] = {}
    for pkg_name in ("ocr_module_spark.operators",
                     "ocr_module_spark.functions"):
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg_name}.{info.name}")
            for name, pair in getattr(mod, "REGISTRY", {}).items():
                if name in owner:
                    raise ValueError(
                        f"query {name!r} registered by both "
                        f"{owner[name]} and {mod.__name__}")
                owner[name] = mod.__name__
                out[name] = pair
    return out


# The driver checks the first 50 rows of queries() in dict order, so the
# window is pinned here, in that order; every other catalog entry keeps
# its DuckDB parity in tools/parity_check.py and the hostile-corpus test.
DRIVER_WINDOW = (
    "agg_pricing_summary", "agg_usage_stats", "agg_batch_prompt_assembly",
    "join_pointer_membership", "join_left_identity_fallback",
    "join_resume_anti", "join_semi_nonempty", "join_broadcast_star",
    "window_dense_ids", "window_running_counter", "window_greedy_chunking",
    "proj_orientation_normalize", "agg_mismatch_audit", "agg_salted_skew",
    "join_range_containment", "join_asof_ordinal", "fn_regex_extract_rewrite",
    "agg_ordered_reassembly", "enrich_roundtrip", "extract_text",
    "extract_relational", "extract_nodes", "extract_sections",
    "extract_document_json", "extract_regions", "text_quality_tiers",
    "text_vocab_topk", "text_repetition", "curate_budget_mix",
    "text_quality_score", "dedup_cc_clusters", "dedup_exact", "dedup_spans",
    "dedup_ngram_jaccard", "dedup_embedding_cosine", "dedup_simhash",
    "ann_recall_eval", "ann_ivf_probe", "mm_features", "decon_ngram_flags",
    "decon_embedding_knn", "dedup_keep_list", "curate_pack_sequences",
    "fn_url_canonicalize", "text_dsir_select", "text_lm_perplexity",
    "text_langid_eval", "host_reputation", "snapshot_diff", "text_datacard",
)


def _window() -> dict:
    cat = catalog()
    return {name: cat[name] for name in DRIVER_WINDOW}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _window().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _window().items()
            if sql is not None}
