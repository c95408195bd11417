"""Local replica of the driver's correctness gate, over the whole operator
catalog (the driver's 50-row window and every entry beyond it): run each
``catalog()`` query on Spark and its oracle SQL on DuckDB over the same
parquet dir, compare row count, column names, and an order-insensitive
value hash. Entries without an oracle are checked for non-empty output.

    python tools/parity_check.py [sf_dir] [name_filter[,name_filter...]]

Each line carries the entry's Spark and DuckDB value hashes, so two runs
(say, before and after a rewrite) diff line by line once the timings are
cut off: ``sed 's/ spark=.*//'``. The session runs on
``local[$SPARK_GRAFT_CPUS]`` (default: every core).
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import sys
import time

import duckdb

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, int):
        return str(v)
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2].split(",") if len(sys.argv) > 2 else [""]

    import __spark_entry__ as entry_mod
    from ocr_module_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("parity-check", cores=cores, shuffle_partitions=cores)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    cat = entry_mod.catalog()
    failures = []
    for name, (fn, sql) in sorted(cat.items()):
        if not any(f in name for f in filters):
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        s_cols = df.columns
        s_rows = [tuple(r) for r in df.collect()]
        t_spark = time.time() - t0
        hs = value_hash(s_rows, s_cols)
        if sql is None:
            print(f"  {name:32s} rows={len(s_rows):7d} (rows-only) "
                  f"hash={hs}  spark={t_spark:5.1f}s")
            if not s_rows:
                failures.append((name, "empty result"))
            continue
        t0 = time.time()
        res = con.sql(sql)
        d_cols = res.columns
        d_rows = res.fetchall()
        t_duck = time.time() - t0
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_rows = len(s_rows) == len(d_rows)
        hd = value_hash(d_rows, d_cols)
        ok_hash = hs == hd
        status = "OK " if (ok_cols and ok_rows and ok_hash) else "FAIL"
        print(f"  {name:32s} rows={len(s_rows):7d}/{len(d_rows):7d} "
              f"cols={'=' if ok_cols else '≠'} hash={hs}/{hd} {status} "
              f"spark={t_spark:5.1f}s duck={t_duck:4.1f}s")
        if status == "FAIL":
            failures.append((name, f"cols={ok_cols} rows={ok_rows} hash={ok_hash}"))
            if not ok_cols:
                print(f"    spark cols: {s_cols}\n    duck  cols: {d_cols}")
            elif s_rows and d_rows:
                key = lambda r: tuple(_norm_cell(v) for v in r)  # noqa: E731
                ss = sorted(s_rows, key=key)[:2]
                dd = sorted(d_rows, key=key)[:2]
                print(f"    spark sample: {ss}\n    duck  sample: {dd}")
    spark.stop()
    if failures:
        print("\nFAILURES:", failures)
        return 1
    print("\nall parity checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
