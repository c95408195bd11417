"""What ``session.get_spark`` and the worker-side imports cost once per
JVM, per query and per Python worker."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_codegen_cache_holds_a_repeated_query_set(spark):
    """A query set of more than 100 distinct generated classes, run
    twice, compiles each class once. At Spark's default of 100 entries
    (4 Guava segments, a plateau near 68) the second pass recompiled
    nearly all of them."""
    hist = (spark.sparkContext._jvm.org.apache.spark.metrics.source
            .CodegenMetrics.METRIC_COMPILATION_TIME())

    def run() -> int:
        before = hist.getCount()
        for i in range(60):  # 2 classes each; a fresh frame per rerun
            spark.range(1).selectExpr(
                f"id * {i + 7919} + {i} AS v").collect()
        return hist.getCount() - before

    first = run()
    second = run()
    assert first > 100, first
    assert second <= 5, (first, second)


def test_get_spark_on_a_running_jvm_plans_no_archive(spark, monkeypatch):
    """With a JVM already running, get_spark launches nothing: no archive
    decision is taken and the environment is left as it was."""
    from ocr_module_spark import cds, session

    def fail(*a, **k):
        raise AssertionError("cds.plan called with a running JVM")

    monkeypatch.setattr(cds, "plan", fail)
    env = dict(os.environ)
    assert session.get_spark("ocr_module_spark-tests", cores=8,
                             shuffle_partitions=8) is spark
    assert dict(os.environ) == env


def test_pipeline_import_leaves_pandas_unloaded():
    """Every Python worker that unpickles the extraction stage imports
    ``ocr_module_spark.pipeline``; pandas alone cost it ~0.3 s and only
    the relational path's UDFs use it."""
    code = ("import sys; import ocr_module_spark.pipeline; "
            "print('pandas' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"
