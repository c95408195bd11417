"""Training-data-pipeline function suites (dedup, similarity, text stats).

Each module exposes ``REGISTRY: dict[name -> (spark_fn, oracle_sql|None)]``
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is the
equivalent ANSI SQL DuckDB runs on the same parquet tables. Column names and
rounding are aligned on both sides so the driver's order-insensitive
value-hash comparison is exact. ``__spark_entry__.catalog()`` merges them.
"""
