"""ocr_module_spark — a PySpark-native main-content extraction engine.

A from-scratch reimagination of the query/data-processing semantics of the
reference extraction pipeline (RidgeBull/ocr_module, studied read-only at
/root/reference) as idiomatic Apache Spark:

* the reference's eager Document/Page/Section/Paragraph object pipeline
  (ocr_module/domain/entities/) becomes one lazy DataFrame plan over a
  Common-Crawl-style ``pages`` table ``(url, warc_ts, html, text, lang)``;
* its per-document parse/classify/assemble logic becomes pure Python
  functions shared verbatim between the pytest oracle and one
  Arrow-batched ``mapInArrow`` stage — which is what makes the per-url
  byte-identity contract testable;
* its dict-lookup joins, running counters and grouping loops become real
  Spark joins, window functions and aggregations (see SURVEY.md §2 for the
  full operator-by-operator mapping).

Nothing here is a port: no reference code is copied; the architecture is
DataFrame/Catalyst-first with explicit skew handling (salted repartition on
url host) and an idempotent, resumable parquet sink.
"""

import sys

__version__ = "0.1.0"

# Inside a Spark Python worker (never on the driver): stop every task
# from re-reading pyspark.zip's directory (see deploy.py). A worker has
# always loaded pyspark; a plain import of the package does not load it.
if "pyspark" in sys.modules:
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        from ocr_module_spark.deploy import install_zip_cache

        install_zip_cache()
