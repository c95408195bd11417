"""Eval-set decontamination (functions/decontam.py): invariants the SQL
parity compare cannot see — benchmark exclusion, the contaminated-survivor
drop in the integrated keep-list, and per-query top-k shape."""

from __future__ import annotations

import random
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_module_spark.functions import decontam as DC
from ocr_module_spark.functions import dedup as DD


def test_ngram_flags_exclude_benchmark_docs(spark, sf_dir):
    """Flags cover every non-benchmark doc and ONLY non-benchmark docs;
    the contamination verdict equals its own definition."""
    out = DC.q_decon_ngram_flags(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_bench = (spark.read.parquet(f"{sf_dir}/documents.parquet")
               .where(F.pmod("doc_id", F.lit(DC.BENCH_MOD)) == DC.BENCH_RES)
               .count())
    assert len(out) == n_docs - n_bench
    for r in out:
        assert r["doc_id"] % DC.BENCH_MOD != DC.BENCH_RES
        expect = (r["n_shingles"] > 0 and
                  r["n_hits"] * 100 >= r["n_shingles"] * DC.DECON_FRAC_X100)
        assert r["contaminated"] == expect, r


def test_embedding_knn_topk_shape(spark, sf_dir):
    """Per query: ranks are 1..m (m <= K), dots non-increasing, no
    benchmark vector on the corpus side, no self-pairs."""
    rows = DC.q_decon_embedding_knn(spark, sf_dir).collect()
    assert rows, "batch kNN returned nothing"
    by_q: dict = {}
    for r in rows:
        assert r["query_id"] % DC.BENCH_MOD == DC.BENCH_RES
        assert r["vec_id"] % DC.BENCH_MOD != DC.BENCH_RES
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1)), q
        assert len(rs) <= DC.DECON_TOP_K
        dots = [r["dot"] for r in rs]
        assert dots == sorted(dots, reverse=True), (q, dots)


def test_contaminated_survivor_is_dropped(spark, tmp_path):
    """The integration the keep-list exists for: a doc that IS its
    dup-cluster's canonical survivor (pure dedup keeps it) but overlaps
    the benchmark set must come out keep=false."""
    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        # doc 0: identical to benchmark doc 3 -> near-dup cluster {0, 3},
        # min doc_id 0 is the canonical survivor; 100% shingle collision
        (0, bench_text, "en", "web", len(bench_text)),
        (DC.BENCH_RES, bench_text, "en", "bench", len(bench_text)),
        # unrelated clean docs (distinct vocab, no bench overlap)
        (1, "kappa lombda mu nu xi omicron pi rho sigma tau", "en", "web", 46),
        (2, "upsilon phi chi psi omega aleph beth gimel daleth", "en", "web", 48),
    ]
    d = tmp_path / "corpus"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    pure = {r["doc_id"]: r["keep"]
            for r in DD.q_dedup_keep_list(spark, str(d)).collect()}
    assert pure[0] is True and pure[DC.BENCH_RES] is False, pure

    full = {r["doc_id"]: r["keep"]
            for r in DC.q_keep_list(spark, str(d)).collect()}
    assert full[0] is False, "contaminated survivor must be dropped"
    assert full[1] is True and full[2] is True, full


def test_keep_list_subset_of_pure_dedup(spark, sf_dir):
    """Decontamination only ever REMOVES docs from the keep set."""
    pure = {r["doc_id"] for r in
            DD.q_dedup_keep_list(spark, sf_dir).collect() if r["keep"]}
    full = {r["doc_id"] for r in
            DC.q_keep_list(spark, sf_dir).collect() if r["keep"]}
    assert full <= pure


def _shingle_twin(w, n):
    """Pure-Python twin of the shingle builders: distinct word
    n-shingles in first-occurrence order (NULL stays NULL)."""
    if w is None:
        return None
    return list(dict.fromkeys(" ".join(w[i:i + n])
                              for i in range(len(w) - n + 1)))


@pytest.mark.parametrize("n", [3, 13])
def test_shingle_builders_match_python_twin(spark, n):
    """dedup.shingle_sql_spark and shingle_sql_duck against the twin at
    the default width and at a web-scale width (the width follows n):
    NULL, empty and whitespace-only text, n-1 words, exactly n words,
    repeated shingles and a 3,000-word doc. Spark keeps the twin's
    first-occurrence order; DuckDB's list_distinct does not, so its
    shingles compare as a sorted distinct list."""
    rng = random.Random(7)
    block = [f"w{rng.randrange(40)}" for _ in range(100)]
    words = [f"t{i}" for i in range(n + 1)]
    texts = [None, "", " \t\n ",
             " ".join(words[:n - 1]), " ".join(words[:n]),
             " ".join(words[:2] * (n + 3)),
             " ".join(block * 30)]
    rows = list(enumerate(texts))
    # both engines tokenize with split(trim(text), '\s+'); trim strips
    # spaces only
    want = {i: _shingle_twin(None if t is None
                             else re.split(r"\s+", t.strip(" ")), n)
            for i, t in rows}

    got = {r["i"]: r["ss"] for r in (
        spark.createDataFrame(rows, "i int, text string")
        .withColumn("w", F.split(F.trim("text"), r"\s+"))
        .select("i", F.expr(DD.shingle_sql_spark(n=n)).alias("ss"))
        .collect())}
    assert got == want

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(con.execute(
        f"SELECT i, {DD.shingle_sql_duck(n=n)} FROM (SELECT i, "
        "string_split_regex(trim(text), '\\s+') AS w FROM t)").fetchall())
    assert {i: None if v is None else sorted(v) for i, v in duck.items()} \
        == {i: None if v is None else sorted(v) for i, v in want.items()}
    assert len(want[5]) == 2 and len(want[6]) <= 100  # repeats collapse
