"""Cross-engine parity on the hostile corpus class.

Round 1 shipped two driver-red queries whose Spark/DuckDB semantics
diverged ONLY on corpus rows the pinned testdata lacked (NULL text →
all-NULL aggregation groups; VERDICT.md r1). These tests regenerate the
hostile corpus (tools/gen_hostile.py: NULL / empty / whitespace-only /
non-ASCII text, mismatching n_chars, an all-NULL (lang, source) group)
and assert Spark == DuckDB for every documents-driven oracle query on it
— the local reproduction of the driver's corpus class.
"""

from __future__ import annotations

import pathlib
import sys

import duckdb
import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

# every oracle query that reads the documents table (the hostile surface)
DOC_QUERIES = [
    "agg_content_length",
    "agg_mismatch_audit",
    "agg_ordered_reassembly",
    "enrich_roundtrip",
    "fn_token_split_count",
    "fn_regex_extract_rewrite",
    "join_positional_zip",
    "window_greedy_chunking",
    "mm_metadata",
    "mm_frame_sample",
    "mm_features",         # + folded-in metadata/resize columns
    "text_token_count",
    "text_repetition",
    "text_bpe_token_estimate",
    "curate_budget_mix",
    "text_quality_score",
    "text_quality_filter",
    "text_lang_guess",
    "text_fingerprint",
    "text_rolling_fingerprint",
    "curate_pack_sequences",
    "curate_pack_salted",
    "curate_pack_materialize",
    "curate_shards",
    "curate_shards_salted",
    "curate_split",
    "curate_split_leakage",
    "curate_split_repair",
    "curate_mixture_epochs",
    "fn_url_canonicalize",
    "fn_url_latest_revision",
    "text_model_score",
    "text_boilerplate_lines",
    "text_normalize",
    "text_embed_hash",
    "text_lm_perplexity",
    "text_dsir_select",
    "text_datacard",
    "text_datacard_exemplars",
    "text_badwords",
    "text_model_auc",
    "text_model_auc_holdout",
    "text_line_quality",
    "text_langid_eval",
    "host_reputation",
    "host_link_centrality",
    "host_anchor_texts",
    "snapshot_diff",
    # runs on the hostile dir's verbatim-copied part table
    "proj_bbox_reduction_units",
    "dedup_exact",
    "dedup_jaccard_pairs",
    "dedup_incremental",
    "dedup_spans",
    "dedup_minhash_signatures",
    "dedup_lsh_buckets",
    "dedup_keep_list",
    "dedup_cc_clusters",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "text_vocab_topk",
    "text_quality_tiers",
    "sample_stratified_hash",
    # embeddings-driven (hostile embeddings: exact-dup of vec 0, all-zero
    # vector - the zero norm killed knn under ANSI before try_divide -
    # and a tiny-magnitude vector)
    "knn_brute_cosine",
    "ann_sign_buckets",
    "ann_bucketed_knn",
    "ann_ivf_probe",
    "ann_recall_eval",
    "dedup_embedding_cosine",
    # events-driven (hostile events: NULL/malformed/key-missing JSON
    # props - Spark's ANSI cast threw before try_cast and DuckDB's
    # json_extract_string throws without a json_valid guard - plus NULL
    # value / user_id / event_type rows)
    "json_pointer_extract",
    "agg_usage_stats",
    "agg_salted_skew",
    "agg_batch_prompt_assembly",
    "join_asof_ordinal",
    # decontamination joins (documents + embeddings probe sides)
    "decon_ngram_flags",
    "decon_embedding_knn",
]


@pytest.fixture(scope="module")
def hostile_dir():
    import gen_hostile
    gen_hostile.main()
    return str(gen_hostile.DST)


@pytest.fixture(scope="module")
def duck(hostile_dir):
    from parity_check import TABLES
    con = duckdb.connect()
    for t in TABLES + ["documents"]:
        con.execute(
            f"CREATE VIEW IF NOT EXISTS {t} AS "
            f"SELECT * FROM '{hostile_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_hostile_parity(spark, hostile_dir, duck, name):
    from parity_check import value_hash

    import __spark_entry__ as entry_mod
    fn, sql = entry_mod.catalog()[name]

    df = fn(spark, hostile_dir)
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]
    res = duck.sql(sql)
    d_cols, d_rows = res.columns, res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), name
    assert len(s_rows) == len(d_rows), name
    assert value_hash(s_rows, s_cols) == value_hash(d_rows, d_cols), name
