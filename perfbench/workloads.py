"""The workloads: what each executes and what each execution must
return.

A workload is a list of :class:`Query`.  ``build`` returns a fresh
DataFrame through one of the engine's public entry points; ``expected``
gives the rows it must collect.  Expected rows never come from this
engine: they are computed from the values the corpus generator
serialized.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Callable, Optional

from . import corpus as C

# corpus sizes (mean document ~0.4 KB): on a 4-core host a Python-tier
# query spends ~0.6 s whatever its input, and 36k documents make
# execution ~85% of its wall time; a native-tier query costs 2-4 s at
# any size, so its corpus stays small to leave room for executions
PY_DOCS = 36000
NATIVE_DOCS = 4000


@dataclass
class Query:
    name: str
    build: Callable  # (spark) -> DataFrame
    docs: int  # input documents one execution reads
    tier: str  # tier the query is expected to run on: native | python
    expected: Callable  # () -> (columns, rows)
    # (program, declarations) the query hands to the Python tier's
    # compile path; declarations are None for the scalar UDFs
    programs: list = field(default_factory=list)
    # (rows) -> rows that took the $error branch, for queries that report it
    error_rows: Optional[Callable] = None


@dataclass
class Workload:
    name: str
    queries: list
    inputs: dict  # what was generated, reported in the output
    corpus: C.Corpus
    # untimed rounds before measuring: the native tier's generated code
    # keeps getting faster for longer than the Python tier's path does
    warm_rounds: int = 3


# ---------------------------------------------------------------------------
# result comparison
# ---------------------------------------------------------------------------


def _cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    return repr(tuple(round(x, 6) if isinstance(x, float) else x for x in row))


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows), key=_sort_key
    )


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got_cols, got_rows, exp_cols, exp_rows) -> Optional[str]:
    """None when the results agree (column names, row multiset, floats
    to 1e-9 relative), else a one-line description."""
    gc, gr = _canon(got_cols, got_rows)
    ec, er = _canon(exp_cols, exp_rows)
    if gc != ec:
        return f"columns {gc} != expected {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != expected {len(er)}"
    for g, e in zip(gr, er):
        if not _close(g, e):
            return f"row {g} != expected {e}"
    return None


# ---------------------------------------------------------------------------
# corpus workloads
# ---------------------------------------------------------------------------


def _group(rows_iter, nkeys):
    """Group (key..., value...) tuples; sums skip None like SQL sum."""
    acc: dict = {}
    for r in rows_iter:
        k, vals = r[:nkeys], r[nkeys:]
        cur = acc.get(k)
        if cur is None:
            acc[k] = cur = [0] + [None] * len(vals)
        cur[0] += 1
        for i, v in enumerate(vals, 1):
            if v is not None:
                cur[i] = v if cur[i] is None else cur[i] + v
    return [k + tuple(v) for k, v in acc.items()]


# ---- py_eval: programs the native compiler rejects, three surfaces ------

P_BIND = (
    ".id as $id | .items[]? | select(.qty >= 3)"
    " | {id: $id, sku: .sku, amt: (.qty * .price)}"
)
P_BIND_DECLS = ("id:bigint", "sku:string", "amt:double")

P_REDUCE = (
    "if $error then {bad: 1, total: 0, nt: 0} else {bad: 0,"
    " total: (reduce .items[]? as $i (0; . + $i.qty)),"
    ' nt: ([.tags[]? | select(test("^t[0-4]$"))] | length)} end'
)
P_REDUCE_DECLS = ("bad:int", "total:bigint", "nt:int")

S_CAT = ".meta.cat"
S_QTY = "[.items[]? | .qty] | add"
S_T1 = 'any(.tags[]?; . == "t1")'
S_TEXT = '(.text // "") | gsub("[aeiou]"; "") | length'

P_ERR = (
    'if $error != null then {k: "error", n: 0, w: 0} else'
    ' {k: (.user.tier // "none"), n: ([.tags[] | select(. >= "t5")] | length),'
    " w: ([.deep | .. | numbers] | add)} end"
)
P_ERR_DECLS = ("k:string", "n:int", "w:bigint")

_T04 = re.compile(r"^t[0-4]$")


def py_eval(seed: int, stage_dir: str) -> Workload:
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.udtf import jq_explode

    spec = C.CorpusSpec(n_docs=PY_DOCS, corrupt_share=0.01)
    corpus, path, inputs = _stage(seed, spec, stage_dir)
    docs, kinds = corpus.docs, corpus.kinds
    n = len(docs)

    def bind(spark):
        x = jq_explode(spark.read.parquet(path), "doc", P_BIND, *P_BIND_DECLS)
        return x.groupBy("sku").agg(
            F.count("*").alias("n"), F.sum("amt").alias("amt"), F.sum("id").alias("ids")
        )

    def bind_expected():
        rows = (
            (it["sku"], it["qty"] * it["price"], d["id"])
            for d in docs if d is not None
            for it in d["items"] if it["qty"] >= 3
        )
        return ["sku", "n", "amt", "ids"], _group(rows, 1)

    def reduce_sql(spark):
        spark.read.parquet(path).createOrReplaceTempView("corpus")
        decls = ", ".join(f"'{d}'" for d in P_REDUCE_DECLS)
        return spark.sql(
            "SELECT count(*) AS n, sum(t.bad) AS bad, sum(t.total) AS total,"
            f" sum(t.nt) AS nt FROM corpus, LATERAL jq(corpus.doc, '{P_REDUCE}', {decls}) t"
        )

    def reduce_expected():
        live = [d for d in docs if d is not None]
        return ["n", "bad", "total", "nt"], [(
            n,
            kinds.count(C.CORRUPT),
            sum(it["qty"] for d in live for it in d["items"]),
            sum(1 for d in live for t in d["tags"] if _T04.match(t)),
        )]

    def scalar_sql(spark):
        spark.read.parquet(path).createOrReplaceTempView("corpus")
        return spark.sql(
            f"SELECT jq_string(doc, '{S_CAT}') AS cat, count(*) AS n,"
            f" sum(jq_long(doc, '{S_QTY}')) AS q,"
            f" sum(CAST(jq_matches(doc, '{S_T1}') AS INT)) AS t1,"
            f" sum(jq_double(doc, '{S_TEXT}')) AS nl"
            " FROM corpus GROUP BY 1"
        )

    def scalar_expected():
        def row(d):
            if d is None:
                return (None, None, 0, 0.0)
            q = sum(it["qty"] for it in d["items"]) if d["items"] else None
            return (
                d["meta"]["cat"], q, int("t1" in d["tags"]),
                float(len(re.sub("[aeiou]", "", d["text"]))),
            )

        return ["cat", "n", "q", "t1", "nl"], _group((row(d) for d in docs), 1)

    def err(spark):
        x = jq_explode(spark.read.parquet(path), "doc", P_ERR, *P_ERR_DECLS)
        return x.groupBy("k").agg(
            F.count("*").alias("rows"), F.sum("n").alias("n"), F.sum("w").alias("w")
        )

    def err_expected():
        def leaf(v):
            while "v" not in v:
                v = v["d"]
            return v["v"]

        rows = (
            ("error", 0, 0) if d is None else
            (d["user"]["tier"], sum(1 for t in d["tags"] if t >= "t5"), leaf(d["deep"]))
            for d in docs
        )
        return ["k", "rows", "n", "w"], _group(rows, 1)

    queries = [
        Query("py_bind_explode", bind, n, "python", bind_expected, [(P_BIND, P_BIND_DECLS)]),
        Query("py_reduce_lateral", reduce_sql, n, "python", reduce_expected,
              [(P_REDUCE, P_REDUCE_DECLS)], lambda rows: rows[0]["bad"]),
        Query("py_scalar_udfs", scalar_sql, n, "python", scalar_expected,
              [(S_CAT, None), (S_QTY, None), (S_T1, None), (S_TEXT, None)]),
        Query("py_error_channel", err, n, "python", err_expected, [(P_ERR, P_ERR_DECLS)],
              lambda rows: sum(r["rows"] for r in rows if r["k"] == "error")),
    ]
    return Workload("py_eval", queries, inputs, corpus, warm_rounds=2)


# ---- native_dirty: plain-path programs on the native tier, suspect rows --

N_FIELDS = '{id: .id, cat: .meta.cat, color: (.meta.color // "none"), nt: (.tags | length)}'
N_FIELDS_DECLS = ("id:bigint", "cat:string", "color:string", "nt:int")
N_ITER = "select(.score > 50) | .items[] | {sku: .sku, qty: .qty, up: (.sku | ascii_upcase)}"
N_ITER_DECLS = ("sku:string", "qty:int", "up:string")


def native_dirty(seed: int, stage_dir: str) -> Workload:
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.udtf import jq_explode

    spec = C.CorpusSpec(
        n_docs=NATIVE_DOCS, dup_share=0.05, escaped_share=0.02,
        sci_share=0.03, corrupt_share=0.01, null_share=0.01,
    )
    corpus, path, inputs = _stage(seed, spec, stage_dir)
    docs = corpus.docs
    live = [d for d in docs if d is not None]
    n = len(docs)

    def explode(spark, prog, decls):
        return jq_explode(spark.read.parquet(path), "doc", prog, *decls)

    def fields(spark):
        return explode(spark, N_FIELDS, N_FIELDS_DECLS).groupBy("cat", "color").agg(
            F.count("*").alias("n"), F.sum("id").alias("ids"), F.sum("nt").alias("nt")
        )

    def fields_expected():
        rows = (
            (None, "none", None, 0) if d is None else
            (d["meta"]["cat"], d["meta"].get("color") or "none", d["id"], len(d["tags"]))
            for d in docs
        )
        return ["cat", "color", "n", "ids", "nt"], _group(rows, 2)

    def iterate(spark):
        return explode(spark, N_ITER, N_ITER_DECLS).groupBy("sku", "up").agg(
            F.count("*").alias("n"), F.sum("qty").alias("qty")
        )

    def iterate_expected():
        rows = (
            (it["sku"], it["sku"].upper(), it["qty"])
            for d in live if d["score"] > 50 for it in d["items"]
        )
        return ["sku", "up", "n", "qty"], _group(rows, 2)

    queries = [
        Query("nat_fields", fields, n, "native", fields_expected, [(N_FIELDS, N_FIELDS_DECLS)]),
        Query("nat_select_iterate", iterate, n, "native", iterate_expected,
              [(N_ITER, N_ITER_DECLS)]),
    ]
    return Workload("native_dirty", queries, inputs, corpus)


def _stage(seed: int, spec: C.CorpusSpec, stage_dir: str):
    corpus = C.make_corpus(seed, spec)
    path = os.path.join(stage_dir, "corpus.parquet")
    nbytes = C.write_corpus(corpus, path, row_groups=4 * (os.cpu_count() or 4))
    inputs = dict(corpus.stats(), parquet_bytes=nbytes)
    return corpus, path, inputs


WORKLOADS = {"py_eval": py_eval, "native_dirty": native_dirty}
