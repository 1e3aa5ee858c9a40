"""Engine-free, single-thread timings of the Python tier's three steps.

For each program a workload runs on the Python tier, a seeded sample of
documents goes through ``parse_document`` -> ``JQProgram.iter`` ->
``RowMarshaller.marshal`` one step at a time, so each step is timed on
its own.  Compile costs are taken uncached.
"""

from __future__ import annotations

import statistics
import time

SAMPLE_DOCS = 10000


def _median_ms(fn, repeat=5) -> float:
    times = []
    for _ in range(repeat):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1000.0


def compile_costs(programs) -> dict:
    """Uncached compile time per program: jq parse+compile and output
    schema parse (programs without declarations skip the latter)."""
    from hive_jq_udtf_spark.jqlib.evaluator import JQProgram
    from hive_jq_udtf_spark.schema import parse_output_schema

    jq = [_median_ms(lambda p=p: JQProgram(p)) for p, _ in programs]
    schema = [_median_ms(lambda d=d: parse_output_schema(list(d))) for _, d in programs if d]
    return {
        "jqlib.compile_ms": statistics.fmean(jq) if jq else 0.0,
        "schema.parse_ms": statistics.fmean(schema) if schema else 0.0,
    }


def python_tier(programs, texts) -> dict:
    """µs per document for parse and eval, µs per output row for
    marshal, averaged over ``programs``; zeros when there are none."""
    from hive_jq_udtf_spark.jqlib import JQError, jq_compile
    from hive_jq_udtf_spark.marshal import RowMarshaller
    from hive_jq_udtf_spark.schema import parse_output_schema
    from hive_jq_udtf_spark.udtf import parse_document

    texts = texts[:SAMPLE_DOCS]
    if not programs or not texts:
        return {"udtf.parse_us_per_doc": 0.0, "jqlib.eval_us_per_doc": 0.0,
                "marshal.us_per_row": 0.0}
    t = time.perf_counter()
    parsed = [parse_document(s) for s in texts]
    parse_us = (time.perf_counter() - t) / len(texts) * 1e6
    eval_us, marshal_us = [], []
    for prog_src, decls in programs:
        prog = jq_compile(prog_src)
        results = []
        t = time.perf_counter()
        for doc, err in parsed:
            try:
                results.extend(prog.iter(doc, vars={"error": err}))
            except JQError:
                pass
        eval_us.append((time.perf_counter() - t) / len(parsed) * 1e6)
        if decls and results:
            schema, single = parse_output_schema(list(decls))
            m = RowMarshaller(schema, single)
            t = time.perf_counter()
            for r in results:
                m.marshal(r)
            marshal_us.append((time.perf_counter() - t) / len(results) * 1e6)
    return {
        "udtf.parse_us_per_doc": parse_us,
        "jqlib.eval_us_per_doc": statistics.fmean(eval_us),
        "marshal.us_per_row": statistics.fmean(marshal_us) if marshal_us else 0.0,
    }
