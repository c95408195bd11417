"""Benchmark harness (driver contract + SURVEY.md §7.1 step 8).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a ``noop``-format write so the full plan
executes (every column computed, nothing collected to the driver) — the
same way a cluster job would be bound by the sink, not by driver transfer.

The flagship extraction is also reported as docs/sec (``extract_docs_sec``)
since that is the north-star metric. The old two-cluster-size scaling
driver (steal/bandwidth-gated, 32-core VM) is kept in history only:
``git show c8b74f0:tools/scaling_bench.py``.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

# headline set: the flagship extraction + one representative per suite
HEADLINE = [
    "extract_text",            # flagship: full parse→classify→assemble
    "agg_pricing_summary",     # grouped aggregation (A3/A6)
    "join_broadcast_star",     # broadcast star join (J1-J3 analogue)
    "window_running_counter",  # prefix-sum window (W2)
    "dedup_exact",             # hash-groupBy dedup
    "dedup_minhash_signatures",# MinHash signature build
    "dedup_simhash",           # SimHash fingerprint
    "knn_brute_cosine",        # brute-force cosine top-k
    "ann_ivf_probe",           # IVF-flat ANN probe
    "text_quality_score",      # JVM-side text metrics
    "mm_features",             # Arrow-batched binary feature extraction
    "enrich_roundtrip",        # full enrichment chain (chunk->zip->fallback)
]

# second headline suite (frozen round 4): the curation-side operators
# that shipped after the original 12 — a perf regression in packing /
# budget mix / url canonicalization / model scoring / span+incremental
# dedup / sampled recall was invisible round-over-round before this.
# The original 12-query suite stays untouched for comparability.
HEADLINE2 = [
    "curate_pack_sequences",   # packing plan (1 window exchange)
    "curate_pack_materialize", # plan join-back + sequence assembly
    "curate_budget_mix",       # token-budget mixture (bucketed prefix sum)
    "fn_url_canonicalize",     # zero-exchange url normalization
    "text_model_score",        # trained-weights broadcast scoring gate
    "dedup_spans",             # C4-style exact span dedup
    "dedup_incremental",       # cross-snapshot signature-index dedup
    "ann_recall_eval",         # sampled recall eval (kernel-swapped r4)
]


def _materialize(df) -> None:
    """Execute the full plan without driver collection.

    The noop sink executes every expression of every row (count() would let
    Catalyst prune all columns, under-measuring the real work).
    """
    df.write.mode("overwrite").format("noop").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf_label)
    except ValueError:
        sf = sf_label

    import __spark_entry__ as entry_mod
    from ocr_module_spark.corpus import pages_df
    from ocr_module_spark.operators.extraction import _n_docs
    from ocr_module_spark.session import get_spark

    # explicit tmpfs scratch opt-in for the bench (session.get_spark no
    # longer defaults to it; the VM's disk is spiky, a cluster has NVMe)
    extra = {}
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/spark-local"
    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus,
                      extra_conf=extra)
    qs = {name: fn for name, (fn, _sql) in entry_mod.catalog().items()}

    # warm up the JVM + Python worker pool so the first timed query doesn't
    # pay one-time startup (exactly what a long-running cluster job amortizes)
    pages_df(spark, 64).count()
    spark.range(1000).selectExpr("sum(id)").collect()

    # best-of-3 with INTERLEAVED rounds (all queries once, then again…):
    # VM noise is one-sided and bursty — back-to-back reps of one query
    # let a single multi-second load storm poison every measurement,
    # while round-interleaving spaces a query's reps ~a suite apart so
    # the min survives any storm shorter than a full round
    times: dict[str, float] = {name: float("inf") for name in HEADLINE}
    for _round in range(3):
        for name in HEADLINE:
            t0 = time.time()
            _materialize(qs[name](spark, sf_dir))
            times[name] = min(times[name], time.time() - t0)
    times = {k: round(v, 3) for k, v in times.items()}

    # second suite, same methodology (3 interleaved rounds, noop write)
    times2: dict[str, float] = {name: float("inf") for name in HEADLINE2}
    for _round in range(3):
        for name in HEADLINE2:
            t0 = time.time()
            _materialize(qs[name](spark, sf_dir))
            times2[name] = min(times2[name], time.time() - t0)
    times2 = {k: round(v, 3) for k, v in times2.items()}

    # dedup_incremental decomposition (VERDICT r4 ask #4): the headline2
    # row rebuilds its index side inside the timed body every run, so the
    # (bandwidth-sensitive) build dominates and masks probe-path
    # regressions. Time the halves separately: build = index the stored
    # half; probe = dedup the new half against an ALREADY-MATERIALIZED
    # index (localCheckpoint — the daily-refresh regime, where the index
    # is a stored table). The headline2 row itself is unchanged for
    # cross-round comparability.
    from ocr_module_spark.functions.dedup import (build_dedup_index,
                                                  dedup_against_index)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d_even = docs.where("doc_id % 2 = 0")
    d_odd = docs.where("doc_id % 2 = 1").select("doc_id", "text")
    t_build = float("inf")
    for _ in range(3):
        t0 = time.time()
        _materialize(build_dedup_index(d_even))
        t_build = min(t_build, time.time() - t0)
    idx = build_dedup_index(d_even).localCheckpoint()
    t_probe = float("inf")
    for _ in range(3):
        t0 = time.time()
        _materialize(dedup_against_index(d_odd, idx))
        t_probe = min(t_probe, time.time() - t0)

    # sustained extraction (the north-star number): the sf-dir flagship
    # run above is startup-dominated (16k docs ≈ 1 s of work next to
    # plan/codegen cost); this one is big enough to amortize task waves.
    # Input parquet cached on tmpfs across runs.
    sus_docs = int(os.environ.get("SPARK_GRAFT_SUSTAINED_DOCS", "200000"))
    sus_rate = None
    if os.path.isdir("/dev/shm") and sus_docs > 0:
        from ocr_module_spark import pipeline
        from ocr_module_spark.corpus import pages_df as _pages
        sus_path = f"/dev/shm/ocr_bench_pages_{sus_docs}.parquet"
        if not os.path.isdir(sus_path):
            _pages(spark, sus_docs).repartition(64) \
                .write.mode("overwrite").parquet(sus_path)
        mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        try:
            job = pipeline.extract(spark.read.parquet(sus_path))
            _materialize(job)                       # warm-up
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                _materialize(job)
                best = min(best, time.time() - t0)
            sus_rate = round(sus_docs / best, 1)
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)

    n_docs = _n_docs(sf_dir)
    extract_docs_sec = round(n_docs / times["extract_text"], 1)
    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "headline2_suite_total": round(sum(times2.values()), 3),
        "queries2": times2,
        "dedup_incremental_build": round(t_build, 3),
        "dedup_incremental_probe": round(t_probe, 3),
        "sf": sf,
        "cpus": cpus,
        "extract_docs": n_docs,
        "extract_docs_sec": extract_docs_sec,
        "extract_sustained_docs": sus_docs,
        "extract_sustained_docs_sec": sus_rate,
        # host contamination marker: a shared host's load inflates
        # every timing above; compare runs with this in hand
        "host_load_avg_1m": round(os.getloadavg()[0], 2),
    }
    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
