"""Same-session A/B of the two jq tiers: every program runs with
``native="auto"`` and with ``native="never"`` on the same input, the
collected rows of the two tiers are compared, and the median wall time
of ``--reps`` runs after ``--warm`` untimed runs is printed per tier.
Each run builds a fresh DataFrame and collects it, as bench.py does.

Inputs: the ``native_dirty`` benchmark corpus (perfbench) at each
``--docs`` size with its two programs, and ``events.props`` at ``--sf``
with four plain programs.

Usage: python tools/tier_ab.py [--reps 5] [--warm 2]
           [--docs 4000,36000,200000] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

EVENTS_PROGRAMS = [
    ("{k: .k}", ("k:int",)),
    ("{k: .k, big: (.k > 50), bucket: (.k % 10)}", ("k:int", "big:boolean", "bucket:int")),
    ("{k: (.k // -1)}", ("k:int",)),
    ("select(.k > 50) | {k: .k}", ("k:int",)),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--docs", default="4000,36000,200000")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.sources.tables import load_table
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

    def measure(label, build):
        out = {}
        for tier in ("auto", "never"):
            for _ in range(args.warm):
                build(tier).collect()
            times = []
            for _ in range(args.reps):
                t = time.perf_counter()
                rows = build(tier).collect()
                times.append(time.perf_counter() - t)
            out[tier] = (statistics.median(times), sorted(map(tuple, rows), key=repr))
        (a, ra), (n, rn) = out["auto"], out["never"]
        same = "rows equal" if ra == rn else "ROWS DIFFER"
        print(f"{label}: auto {a:.3f} s, never {n:.3f} s, never/auto {n / a:.2f}, {same}",
              flush=True)

    stage = tempfile.mkdtemp(prefix="tier_ab_")
    par = spark.sparkContext.defaultParallelism  # a no-op on the native tier
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
                x = jq_explode(
                    spark.read.parquet(path), "doc", prog, *decls,
                    native=tier, min_parallelism=par,
                )
                return x.groupBy(*keys).agg(F.count("*").alias("n"))

            measure(f"{name} {n_docs} docs", build)

    events = load_table(spark, args.sf, "events")
    for prog, decls in EVENTS_PROGRAMS:
        def build(tier, prog=prog, decls=decls):
            x = jq_explode(
                events, "props", prog, *decls, native=tier, min_parallelism=par
            )
            return x.groupBy(*[d.split(":")[0] for d in decls[1:]]).agg(
                F.count("*").alias("n"), F.sum("k").alias("sum_k")
            )

        measure(f"events.props {os.path.basename(args.sf)} {prog}", build)
    spark.stop()
    shutil.rmtree(stage, ignore_errors=True)


if __name__ == "__main__":
    main()
