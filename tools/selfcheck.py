"""Local stand-in for the driver's correctness harness: run every
queries() entry on Spark AND its oracle_sql() on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values.

Usage: python tools/selfcheck.py [sf_dir] [pattern ...]

Each pattern is a query name or a shell-style pattern (``fnmatch``):
``python tools/selfcheck.py /root/testdata/sf0.01 'jq*'`` checks every
jq query.
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort(key=repr)
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    patterns = sys.argv[2:]

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("selfcheck")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in queries.items():
        if patterns and not any(fnmatch.fnmatchcase(name, p) for p in patterns):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"weak  {name}: rows={len(srows)} (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {ex}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            a = norm_rows(scols, srows)
            b = norm_rows(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"pass  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
