"""Same-session A/B of the two jq tiers on what the suite runs.

Each registered ``jq_native_*`` / ``jq_keys_explode`` query (or those
``--queries`` names) runs as registered ("pinned") and with every
``native="require"`` pin overridden to ``native="never",
min_parallelism=defaultParallelism`` ("python", the exact Python tier
as the suite's other Python-tier calls run it).  A query without such
a pin runs the same code on both sides.  The collected rows of the two
sides are compared, and the median wall time of ``--reps`` runs after
``--warm`` untimed runs is printed per side, for each ``--sf`` data
directory.  Each run builds a fresh DataFrame and collects it, as
bench.py does.

``--docs`` also A/Bs the ``native_dirty`` benchmark corpus (perfbench)
at each size with its two programs, ``native="auto"`` against
``"never"``; an empty ``--docs`` skips it.

Usage: python tools/tier_ab.py [--reps 5] [--warm 2]
           [--sf /root/testdata/sf0.01,/root/testdata/sf0.1]
           [--queries 'jq_native_*,jq_keys_explode'] [--docs 4000,36000]
"""

from __future__ import annotations

import argparse
import contextlib
import fnmatch
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@contextlib.contextmanager
def python_tier(par: int):
    """Within the block, ``jq_explode(..., native="require")`` — as the
    query modules and udtf.py name it — runs ``native="never",
    min_parallelism=par`` instead."""
    from hive_jq_udtf_spark import udtf

    orig = udtf.jq_explode

    def unpinned(*args, **kw):
        if kw.get("native") == "require":
            kw.update(native="never", min_parallelism=par)
        return orig(*args, **kw)

    mods = [
        m for name, m in list(sys.modules.items())
        if name.startswith("hive_jq_udtf_spark.") and getattr(m, "jq_explode", None) is orig
    ]
    for m in mods:
        m.jq_explode = unpinned
    try:
        yield
    finally:
        for m in mods:
            m.jq_explode = orig


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--sf", default="/root/testdata/sf0.01,/root/testdata/sf0.1")
    ap.add_argument("--queries", default="jq_native_*,jq_keys_explode")
    ap.add_argument("--docs", default="4000,36000")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from hive_jq_udtf_spark.udtf import jq_explode
    from perfbench import corpus as C
    from perfbench import workloads as W

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tier_ab")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(2 * int(cpus)))
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .getOrCreate()
    )
    par = spark.sparkContext.defaultParallelism

    def timed(build):
        for _ in range(args.warm):
            build().collect()
        times = []
        for _ in range(args.reps):
            t = time.perf_counter()
            rows = build().collect()
            times.append(time.perf_counter() - t)
        return statistics.median(times), sorted(map(tuple, rows), key=repr)

    def report(label, names, a, b):
        (ta, ra), (tb, rb) = a, b
        same = "rows equal" if ra == rb else "ROWS DIFFER"
        print(f"{label}: {names[0]} {ta:.3f} s, {names[1]} {tb:.3f} s, "
              f"{names[0]}/{names[1]} {ta / tb:.2f}, {same}", flush=True)

    patterns = [p for p in args.queries.split(",") if p]
    queries = {
        n: fn for n, fn in entrymod.queries().items()
        if any(fnmatch.fnmatchcase(n, p) for p in patterns)
    }
    for sf in (s for s in args.sf.split(",") if s):
        for name, fn in queries.items():
            pinned = timed(lambda: fn(spark, sf))
            with python_tier(par):
                python = timed(lambda: fn(spark, sf))
            report(f"{name} {os.path.basename(sf)}", ("pinned", "python"), pinned, python)

    stage = tempfile.mkdtemp(prefix="tier_ab_")
    for n_docs in (int(d) for d in args.docs.split(",") if d):
        spec = C.CorpusSpec(
            n_docs=n_docs, dup_share=0.05, escaped_share=0.02,
            sci_share=0.03, corrupt_share=0.01, null_share=0.01,
        )
        path = os.path.join(stage, f"corpus{n_docs}.parquet")
        C.write_corpus(C.make_corpus(3, spec), path, row_groups=4 * int(cpus))
        for name, prog, decls, keys in [
            ("nat_fields", W.N_FIELDS, W.N_FIELDS_DECLS, ("cat", "color")),
            ("nat_select_iterate", W.N_ITER, W.N_ITER_DECLS, ("sku", "up")),
        ]:
            def build(tier, prog=prog, decls=decls, keys=keys):
                # min_parallelism is a no-op on a native plan
                x = jq_explode(
                    spark.read.parquet(path), "doc", prog, *decls,
                    native=tier, min_parallelism=par,
                )
                return x.groupBy(*keys).agg(F.count("*").alias("n"))

            report(f"native_dirty {name} {n_docs} docs", ("auto", "never"),
                   timed(lambda: build("auto")), timed(lambda: build("never")))
    spark.stop()
    shutil.rmtree(stage, ignore_errors=True)


if __name__ == "__main__":
    main()
