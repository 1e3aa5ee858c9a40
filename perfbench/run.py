"""Benchmark of the jq engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload py_eval --seed 1 --seconds 18 --trace 0

One process, one client thread, ``local[<cores>]``, closed loop: each
query execution (a fresh DataFrame build through a public entry point,
then ``collect``) starts after the previous one ends.  A run sets up
(session start, seeded input generation and staging, two or three
untimed warm executions of every query), then cycles through the
workload's queries, in an order drawn from the seed, in whole rounds
until ``--seconds`` have passed.  Every execution's output is checked.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
the Spark event log and spans around every call into the engine and
reports the per-layer metrics instead.  The last line of standard
output is the JSON result; everything before it is a readable report.
See perfbench/README.md for the metric definitions.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import micro, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, mismatch  # noqa: E402

PER_LAYER_UNITS = {
    "jqlib.compile_ms": "ms",
    "schema.parse_ms": "ms",
    "native.compile_ms": "ms",
    "udtf.parse_us_per_doc": "us/doc",
    "jqlib.eval_us_per_doc": "us/doc",
    "marshal.us_per_row": "us/row",
    "udtf.build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.plan_kb": "KB",
    "catalyst.python_nodes": "count",
    "catalyst.exchanges": "count",
    "catalyst.scans": "count",
    "sql.driver_s": "s",
    "exec.wall_s": "s",
    "exec.task_cpu_s": "s",
    "exec.task_gc_s": "s",
    "exec.shuffle_mb": "MB",
    "exec.tasks": "count",
    "python.time_s": "s",
    "python.rows_sent": "count",
    "python.bytes_sent_mb": "MB",
    "python.rows_out_per_in": "ratio",
    "tier.native_queries": "count",
    "tier.python_queries": "count",
    "udtf.error_rows": "count",
    "check.failed_frac": "ratio",
    "peak_rss_mb": "MB",
    "trace.latency_s": "s",
    "unattributed_s": "s",
    "unattributed_frac": "ratio",
}


def say(msg: str) -> None:
    print(msg, flush=True)


def _m(value, unit):
    return {"value": float(value), "unit": unit}


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(work: str, event_dir):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local  # it would override spark.local.dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep janino recompiles out of the timings
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_dir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process it spawned, and wait
    for all of them to end."""
    proc = spark.sparkContext._gateway.proc
    children = [p for p in tracing.descendants(proc.pid) if p != proc.pid]
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _capture_native_compiles():
    """Time the first (uncached) ``compile_native`` call per program by
    wrapping the public function while the warm pass runs."""
    from hive_jq_udtf_spark import native

    orig = native.compile_native
    seen: dict = {}

    def timed(program, decls):
        t = time.perf_counter()
        plan = orig(program, decls)
        seen.setdefault((program, tuple(decls)), time.perf_counter() - t)
        return plan

    native.compile_native = timed

    def restore():
        native.compile_native = orig

    return seen, restore


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


@dataclass
class Exec:
    df: object
    rows: list
    build_s: float
    latency_s: float
    wall: float  # epoch seconds at the start


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.event_dir = os.path.join(work, "events") if self.traced else None
        self.attempted = 0
        self.failed = 0
        self.latencies: dict = {}  # query -> measured latencies
        self.expected: dict = {}

    def run(self):
        if self.event_dir:
            os.makedirs(self.event_dir)
        self.spark, self.cores = start_session(self.work, self.event_dir)
        try:
            return self._run()
        finally:
            stop_session(self.spark)

    def execute(self, q, check: bool):
        """Build + collect one query; None when it raised."""
        wall = time.time()
        t = time.perf_counter()
        try:
            df = q.build(self.spark)
            t_build = time.perf_counter()
            rows = df.collect()
            t_end = time.perf_counter()
        except Exception as ex:  # a failed execution is a measured outcome
            self.attempted += check
            self.failed += check
            say(f"FAILED {q.name}: {type(ex).__name__}: {' '.join(str(ex).split())[:300]}")
            return None
        if check:
            self.attempted += 1
            cols, exp = self.expected[q.name]
            bad = mismatch(df.columns, [tuple(r) for r in rows], cols, exp)
            if bad:
                self.failed += 1
                say(f"MISMATCH {q.name}: {bad}")
        return Exec(df, rows, t_build - t, t_end - t, wall)

    def execute_collected(self, q, check: bool):
        """``execute`` on collected heaps, Python's and the JVM's."""
        gc.collect()
        self.spark._jvm.System.gc()
        return self.execute(q, check)

    def measure(self, order, after=None):
        """Cycle through ``order`` in whole rounds until ``--seconds``
        have passed; ``after(q, exec)`` sees every execution.  Whole
        rounds give every query the same number of executions, so the
        mix of slow and fast queries in ``rows_per_s`` does not depend
        on where the time ran out."""
        start = time.perf_counter()
        done = 0
        while True:
            q = order[done % len(order)]
            res = self.execute_collected(q, check=True)
            if res is not None:
                self.latencies.setdefault(q.name, []).append(res.latency_s)
            if after:
                after(q, res)
            done += 1
            if done % len(order) == 0 and time.perf_counter() - start >= self.args.seconds:
                break
        say(f"measured {self.attempted} executions in {time.perf_counter() - start:.2f} s")
        for q in order:
            lat = self.latencies.get(q.name)
            if lat:
                say(f"  {q.name:24s} n={len(lat):3d} median_latency_s={statistics.median(lat):.4f}"
                    f" latencies={' '.join(f'{x:.3f}' for x in lat)}")

    def _run(self):
        from hive_jq_udtf_spark.functions.jq_functions import register_functions
        from hive_jq_udtf_spark.udtf import register

        args, spark = self.args, self.spark
        t_session = time.perf_counter()
        stage = os.path.join(self.work, "stage")
        os.makedirs(stage)
        wl = WORKLOADS[args.workload](args.seed, stage)
        register(spark)
        register_functions(spark)
        # one scan task per core
        per_task = -(-wl.inputs["parquet_bytes"] // self.cores)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(per_task, 65536)))
        t_staged = time.perf_counter()
        compiles, restore = _capture_native_compiles() if self.traced else ({}, None)
        order = list(wl.queries)
        random.Random(args.seed).shuffle(order)
        # warm pass (codegen cache, Python workers, JIT).  All rounds but
        # the last run their queries concurrently to keep set-up short,
        # except when first compile times are measured.  The last runs
        # them one at a time, as measuring does: the first such round
        # after concurrent ones ran 10-30% slower than the rounds after it.
        with ThreadPoolExecutor(1 if self.traced else len(order)) as pool:
            for _ in range(wl.warm_rounds - 1):
                for fut in [pool.submit(self.execute, q, False) for q in order]:
                    fut.result()
        for q in order:
            self.execute_collected(q, check=False)
        t_warm = time.perf_counter()
        if restore:
            restore()
        # the clock starts once the session is up: JVM start is not the
        # engine's work, and on a loaded host it swings by several seconds
        setup_s = t_warm - t_session
        say(f"workload {wl.name} seed={args.seed} cores={self.cores} inputs={json.dumps(wl.inputs)}")
        say(f"setup_s={setup_s:.3f} (after session start {t_session - T_START:.2f} s: staging "
            f"{t_staged - t_session:.2f} s, warm pass {t_warm - t_staged:.2f} s)")
        say(f"order: {' '.join(q.name for q in order)}")
        self.expected = {q.name: q.expected() for q in wl.queries}
        # the corpus and expected rows live to the end: keep them out of
        # the collections run between executions
        gc.collect()
        gc.freeze()
        if self.traced:
            return self._traced(wl, order, compiles)
        self.measure(order)
        return self._end_to_end(wl, setup_s)

    def latency_p50_s(self) -> float:
        """Per-query medians, combined by geometric mean: every query
        weighs alike, however long it takes."""
        medians = [statistics.median(v) for v in self.latencies.values()]
        return statistics.geometric_mean(medians) if medians else 0.0

    def _end_to_end(self, wl, setup_s):
        # input documents of every measured execution over their summed wall time
        docs = sum(q.docs * len(self.latencies.get(q.name, ())) for q in wl.queries)
        total_s = sum(sum(v) for v in self.latencies.values())
        return {
            "latency_p50_s": _m(self.latency_p50_s(), "s"),
            "rows_per_s": _m(docs / total_s if total_s else 0.0, "docs/s"),
            "setup_s": _m(setup_s, "s"),
        }

    # -- traced run -------------------------------------------------------
    def _traced(self, wl, order, compiles):
        log = tracing.EventLog(self.event_dir)
        log.drain()  # the warm pass
        tracer = tracing.Tracer()
        traced = []

        def after(q, res):
            events = log.drain()
            if res is not None:
                traced.append(self._trace_exec(tracer, q, res, events))

        self.measure(order, after)
        metrics = self._per_layer(wl, tracer, traced, compiles)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{wl.name}-seed{self.args.seed}.json")
        tracer.dump(path)
        say(f"spans written to {os.path.relpath(path, ROOT)}")
        return metrics

    def _trace_exec(self, tracer, q, res: Exec, events):
        eid = self.attempted
        start, mid, end = res.wall, res.wall + res.build_s, res.wall + res.latency_s
        spans = [tracer.add("query", start, end, -1, eid)]
        spans.append(tracer.add("udtf.build", start, mid, spans[0], eid))
        spans.append(tracer.add("collect", mid, end, spans[0], eid))
        c = tracing.EventLog.counters(events)
        phases = tracing.catalyst_phases(res.df)
        # widest first, so each span finds its enclosing one already added
        timed = [("sql", s, e) for s, e in c.sql_intervals]
        timed += [(f"catalyst.{p}", s, e) for p, (s, e) in phases.items()]
        timed += [("exec", s, e) for s, e in c.job_intervals]
        for name, s, e in sorted(timed, key=lambda t: t[1] - t[2]):
            spans.append(tracer.add_within(name, s, e, spans, eid))
        return {
            "query": q.name,
            "expected_tier": q.tier,
            "tier": "python" if c.python_nodes else "native",
            "latency_s": res.latency_s,
            "build_s": res.build_s,
            "phases": {k: e - s for k, (s, e) in phases.items()},
            "plan_kb": tracing.plan_text_kb(res.df),
            "counters": c,
            "error_rows": q.error_rows(res.rows) if q.error_rows else 0,
        }

    def _per_layer(self, wl, tracer, traced, compiles):
        n = max(len(traced), 1)
        cs = [r["counters"] for r in traced]
        last = {r["query"]: r for r in traced}  # one record per distinct query

        def mean(f):
            return sum(f(r) for r in traced) / n

        say("query tiers and plan shapes:")
        for name, r in last.items():
            c = r["counters"]
            flag = "" if r["tier"] == r["expected_tier"] else "  TIER DIFFERS FROM EXPECTED"
            say(f"  {name:24s} tier={r['tier']:6s} python_nodes={c.python_nodes} "
                f"exchanges={c.exchanges} scans={c.scans} plan_kb={r['plan_kb']:.1f} "
                f"build_s={r['build_s']:.3f} latency_s={r['latency_s']:.3f}{flag}")
        self_t = tracer.self_times()
        wall = mean(lambda r: r["latency_s"])
        unattributed = (self_t.get("query", 0.0) + self_t.get("collect", 0.0)) / n
        py_in = sum(c.python_rows_in for c in cs)
        python_programs = [
            p for q in wl.queries if last.get(q.name, {}).get("tier") == "python"
            for p in q.programs
        ]
        texts = [t for t in wl.corpus.texts if t is not None]
        programs = {(p, tuple(d) if d else None) for q in wl.queries for p, d in q.programs}
        programs |= set(compiles)
        m = {
            **micro.compile_costs(sorted(programs, key=repr)),
            "native.compile_ms": 1000.0 * statistics.fmean(compiles.values()) if compiles else 0.0,
            **micro.python_tier(python_programs, texts),
            "udtf.build_s": mean(lambda r: r["build_s"]),
            "catalyst.analysis_s": mean(lambda r: r["phases"].get("analysis", 0.0)),
            "catalyst.optimization_s": mean(lambda r: r["phases"].get("optimization", 0.0)),
            "catalyst.planning_s": mean(lambda r: r["phases"].get("planning", 0.0)),
            "catalyst.plan_kb": sum(r["plan_kb"] for r in last.values()),
            "catalyst.python_nodes": sum(r["counters"].python_nodes for r in last.values()),
            "catalyst.exchanges": sum(r["counters"].exchanges for r in last.values()),
            "catalyst.scans": sum(r["counters"].scans for r in last.values()),
            "sql.driver_s": self_t.get("sql", 0.0) / n,
            "exec.wall_s": mean(lambda r: tracing.union_length(r["counters"].job_intervals)),
            "exec.task_cpu_s": sum(c.cpu_s for c in cs) / n,
            "exec.task_gc_s": sum(c.gc_s for c in cs) / n,
            "exec.shuffle_mb": sum(c.shuffle_bytes for c in cs) / n / 1e6,
            "exec.tasks": sum(c.tasks for c in cs) / n,
            "python.time_s": sum(c.python_time_s for c in cs) / n,
            "python.rows_sent": py_in / n,
            "python.bytes_sent_mb": sum(c.python_bytes_sent for c in cs) / n / 1e6,
            "python.rows_out_per_in": sum(c.python_rows_out for c in cs) / py_in if py_in else 0.0,
            "tier.native_queries": sum(r["tier"] == "native" for r in last.values()),
            "tier.python_queries": sum(r["tier"] == "python" for r in last.values()),
            "udtf.error_rows": sum(r["error_rows"] for r in last.values()),
            "check.failed_frac": self.failed / max(self.attempted, 1),
            "peak_rss_mb": tracing.peak_rss_mb(self.spark.sparkContext._gateway.proc.pid),
            "trace.latency_s": self.latency_p50_s(),
            "unattributed_s": unattributed,
            "unattributed_frac": unattributed / wall if wall else 0.0,
        }
        return {k: _m(v, PER_LAYER_UNITS[k]) for k, v in m.items()}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import hive_jq_udtf_spark
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    if not os.path.abspath(hive_jq_udtf_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine was found outside {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        run = Run(args, work)
        metrics = run.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
