"""Generated differential of the native tier against jq.

Hypothesis draws programs from the shapes the native compiler accepts
(every projection spec kind and ``select``) and documents
from ``perfbench/corpus.py``'s kinds, with type-swapped leaves and
corrupt and NULL cells.  One Spark job per example runs the native
plan with a tagging stand-in for the Python tier, so each input row is
either routed or natively evaluated.  A natively evaluated row must
give exactly the rows of the engine-free ``run_jq`` — which must not
raise on it; a routed row runs on the Python tier, which is
``run_jq`` itself, so where jq raises the query raises on both tiers.
"""

from __future__ import annotations

import copy
import json
import math
import random

from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from hive_jq_udtf_spark.native import compile_native
from hive_jq_udtf_spark.udtf import run_jq
from conftest import native_rows
from perfbench import corpus as C

# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

_SPEC = C.CorpusSpec(n_docs=1, text_words=3, max_items=3)
# values a leaf or container is swapped for
_PALETTE = [
    None, True, False, 0, -3, 7, 2.5, -0.5, 1e20, 2**40, "x", "55", "",
    "aE1", [], [1, "a"], [2, 3.5], ["t1", "t2"], {}, {"k": 1, "a": "q"},
    {"sku": "s1", "qty": 2},
]
_SWAP_PATHS = [
    ("id",), ("score",), ("user",), ("user", "name"), ("user", "tier"),
    ("meta",), ("meta", "cat"), ("meta", "color"), ("tags",), ("items",),
    ("text",), ("deep",), ("deep", "d"), ("tags", 0), ("items", 0),
    ("items", 0, "sku"), ("items", 0, "qty"), ("items", 0, "price"),
]


def _swap(doc, path, value) -> None:
    cur = doc
    for step in path[:-1]:
        if isinstance(step, int):
            if not isinstance(cur, list) or len(cur) <= step:
                return
        elif not isinstance(cur, dict) or step not in cur:
            return
        cur = cur[step]
    last = path[-1]
    if isinstance(last, int):
        if isinstance(cur, list) and len(cur) > last:
            cur[last] = value
    elif isinstance(cur, dict):
        cur[last] = value


def _doc_text(seed: int):
    """One cell: a corpus document of a drawn kind, with type swaps."""
    rng = random.Random(seed)
    kind = rng.choice(C.KINDS + (C.CLEAN,) * 4)
    if kind == C.NULL:
        return None
    doc = C._make_doc(rng, seed % 1000, _SPEC)
    if kind == C.SCI_NUMBER:
        doc["score"] = float(doc["score"])
    if rng.random() < 0.1:
        return json.dumps(rng.choice(_PALETTE))  # a non-object document
    for _ in range(rng.choice((0, 1, 1, 2, 3))):
        path = rng.choice(_SWAP_PATHS)
        if kind != C.SCI_NUMBER or path != ("score",):  # its text needs a number
            _swap(doc, path, copy.deepcopy(rng.choice(_PALETTE)))
    return C._serialize(rng, doc, kind)


# ---------------------------------------------------------------------------
# programs
# ---------------------------------------------------------------------------

# value paths by the kind the corpus puts there
_DOC = {
    "num": [".id", ".score", ".deep.d.d.v", ".items[0].qty", ".items[0].price"],
    "str": [".user.name", ".user.tier", ".meta.cat", ".meta.color", ".text", ".tags[0]"],
    "arr": [".tags", ".items"],
    "obj": [".user", ".meta", ".deep", "."],
}
_SCALAR_TYPES = ["string", "bigint", "int", "double", "boolean"]


def _pick(draw, *kinds):
    cands = [p for k in kinds for p in _DOC[k]] or [".missing"]
    return draw(st.sampled_from(cands))


@st.composite
def _value(draw):
    """(jq value expression, declared type) for one projected field."""
    pick = lambda *k: _pick(draw, *k)  # noqa: E731
    kind = draw(st.sampled_from([
        "path", "path", "lit", "expr", "fnchain", "fnchain", "alt", "length",
        "keys", "arrayfn", "slice", "strpred", "capture", "ifelse", "split",
        "reduce", "strcat", "strinterp",
    ]))
    if kind == "path":
        p = pick("num", "str", "arr", "obj")
        dt = draw(st.sampled_from(_SCALAR_TYPES + [
            "array<string>", "array<bigint>", "map<string,string>", "struct<sku:string,qty:int>",
        ]))
        return p, dt
    if kind == "lit":
        return draw(st.sampled_from([("1", "bigint"), ('"x"', "string"), ("null", "int"),
                                     ("2.5", "double"), ("true", "boolean"), ("-4", "string")]))
    if kind == "expr":
        a, b = pick("num"), pick("num")
        e = draw(st.sampled_from([f"({a} + 1)", f"({a} * 2 - 1)", f"({a} / 2)", f"({a} % 3)",
                                  f"({a} - {b})", f"(-{a})", f"({a} / {b})", f"({a} > 3)"]))
        return e, "boolean" if ">" in e else draw(st.sampled_from(["bigint", "double"]))
    if kind == "fnchain":
        p = pick("num", "str", "arr", "obj")
        chain, dt = draw(st.sampled_from([
            ("tostring", "string"), ("tojson", "string"), ("ascii_downcase", "string"),
            ("ascii_upcase", "string"), ('ltrimstr("t")', "string"), ('rtrimstr("1")', "string"),
            ('gsub("e"; "E")', "string"), ('sub("[0-9]"; "#")', "string"), ("tonumber", "double"),
            ("floor", "bigint"), ("ceil", "double"), ("sqrt", "double"), ("fabs", "double"),
            ("type", "string"), ('ascii_upcase | ltrimstr("U")', "string"),
            ("tostring | ascii_downcase", "string"), ("type | ascii_upcase", "string"),
            ('ltrimstr("x") | tojson', "string"), ("floor | fabs", "bigint"),
        ]))
        return f"({p} | {chain})", dt
    if kind == "alt":
        p = pick("num", "str", "obj")
        d, dt = draw(st.sampled_from([('"none"', "string"), ("-1", "bigint"), ("0.5", "double")]))
        return f"({p} // {d})", dt
    if kind == "length":
        return f"({pick('num', 'str', 'arr', 'obj')} | length)", draw(st.sampled_from(["int", "double"]))
    if kind == "keys":
        fn = draw(st.sampled_from(["keys", "keys_unsorted"]))
        return f"({pick('arr', 'obj')} | {fn})", draw(st.sampled_from(["array<string>", "array<int>"]))
    if kind == "arrayfn":
        p = pick("arr")
        return draw(st.sampled_from([
            (f"({p} | add)", "double"), (f"({p} | max)", "bigint"), (f"({p} | min)", "double"),
            (f"({p} | first)", "string"), (f"({p} | last)", "string"),
            (f"({p} | reverse)", "array<string>"), (f"({p} | sort)", "array<string>"),
            (f"({p} | unique)", "array<string>"), (f'({p} | join("-"))', "string"),
            (f"({p} | map(.qty))", "array<int>"), (f"({p} | first)", "double"),
        ]))
    if kind == "slice":
        p = pick("arr", "str")
        rng = draw(st.sampled_from(["[1:3]", "[-2:]", "[:1]"]))
        return f"{p}{rng}", draw(st.sampled_from(["array<string>", "string", "array<bigint>"]))
    if kind == "strpred":
        fn = draw(st.sampled_from(['test("a")', 'contains("e")', 'startswith("t")', 'endswith("1")']))
        return f"({pick('str', 'num')} | {fn})", "boolean"
    if kind == "capture":
        return f'({pick("str")} | capture("(?<x>[a-z])(?<y>[0-9])"))', "struct<x:string,y:string>"
    if kind == "ifelse":
        c = draw(st.sampled_from([f"{pick('num')} > 3", f"{pick('str')}", f'{pick("str")} == "gold"']))
        then = draw(st.sampled_from(['"hi"', pick("num", "str")]))
        return f'(if {c} then {then} else {pick("num", "str")} end)', draw(st.sampled_from(["string", "bigint"]))
    if kind == "split":
        p = pick("str", "num")
        if draw(st.booleans()):
            return f'({p} | split("e")[0])', "string"
        return f'({p} | split("e"))', "array<string>"
    if kind == "reduce":
        p = draw(st.sampled_from([q for q in _DOC["arr"] if q != "."] or [".xs"]))
        upd = draw(st.sampled_from([". + $x", ". * 2 + $x", ". - $x"]))
        return f"(reduce {p}[] as $x (0; {upd}))", draw(st.sampled_from(["bigint", "double"]))
    if kind == "strcat":
        a, b = pick("str", "num"), pick("str")
        return draw(st.sampled_from([f'({a} + "-" + {b})', f'("L" + {a})'])), "string"
    a = pick("num", "str", "arr", "obj")
    fmt = draw(st.sampled_from(["", "@json ", "@text ", "@base64 "]))
    return f'{fmt}"v-\\({a})-\\({pick("num", "str")})"', "string"


@st.composite
def _filter(draw):
    pick = lambda *k: _pick(draw, *k)  # noqa: E731
    f = draw(st.sampled_from([
        f"{pick('num')} > 3", f'{pick("str")} == "gold"', f"{pick('num', 'str', 'obj')}",
        f"{pick('num', 'str')} | not", f'{pick("obj")} | has("name")', f'{pick("arr")} | has(0)',
        f'{pick("str", "num")} | startswith("t")', f'{pick("str")} | test("[0-9]")',
        f"{pick('arr', 'str')} | length > 1", f"{pick('num')} + 5 <= 20",
        f"{pick('num')} == null", f'{pick("str")} | contains("l")',
    ]))
    if draw(st.integers(0, 4)) == 0:
        f = f"({f}) or {pick('num')} < 2"
    return f"select({f})"


@st.composite
def cases(draw):
    """(program, declarations, document cells)."""
    form = draw(st.sampled_from(["project", "project", "project", "single", "call", "named"]))
    stages = []
    if draw(st.booleans()):
        stages.append(draw(_filter()))
    if form == "project":
        fields = draw(st.lists(_value(), min_size=1, max_size=3))
        body = ", ".join(f"f{i}: {v}" for i, (v, _) in enumerate(fields))
        stages.append("{" + body + "}")
        decls = tuple(f"f{i}:{dt}" for i, (_, dt) in enumerate(fields))
    elif form == "single":
        v, dt = draw(_value())
        stages.append(v)
        decls = (dt,)
    elif form == "call":
        p = _pick(draw, "arr", "obj", "str")
        call, dt = draw(st.sampled_from([("keys", "array<string>"), ("keys_unsorted", "array<string>"),
                                         ("length", "bigint")]))
        stages.append(f"{p} | {call}")
        decls = (dt,)
    else:
        stages.append(_pick(draw, "obj"))
        decls = draw(st.sampled_from([("name:string", "tier:string"), ("sku:string", "qty:int"),
                                      ("cat:string", "color:string")]))
    seeds = draw(st.lists(st.integers(0, 10**6), min_size=4, max_size=8))
    return " | ".join(stages), decls, [_doc_text(s) for s in seeds]


# ---------------------------------------------------------------------------
# the differential
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, Row):  # a struct: the marshaller gives a dict
        return {k: _norm(x) for k, x in v.asDict().items()}
    if isinstance(v, tuple):  # Row too
        return tuple(_norm(x) for x in v)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


# the probe table of shapes where the native tier once answered NULL,
# false or no rows where jq raised, or NULL where jq gave a value
_PROBES = [
    ("{t: (.a | tostring), f: (.b | floor)}", ("t:string", "f:double"),
     ['{"a":1,"b":"x"}', '{"a":1.5,"b":"x"}']),
    ("{n: (.a | length)}", ("n:int",), ['{"a":true}']),
    ("{s: .a[1:3]}", ("s:array<int>",), ['{"a":"notarray"}']),
    ("{v: .a}", ("v:bigint",), ['{"a":"abc"}', '{"a":true}']),
    ("{u: (.s | ascii_upcase)}", ("u:string",), ['{"s":7}']),
]


def _with_probes(f):
    for case in _PROBES:
        f = example(case=case)(f)
    return f


@settings(
    max_examples=500,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(case=cases())
@_with_probes
def test_native_matches_jq_per_row(spark, case):
    program, decls, texts = case
    plan = compile_native(program, decls)
    assume(plan is not None)
    got_rows = native_rows(spark, plan, texts)
    for i, text in enumerate(texts):
        got = got_rows[i]
        if got is None:
            continue  # the Python tier evaluates it: jq itself
        try:
            want = run_jq(program, text, *decls)
        except Exception as ex:  # jq raises: the row had to be routed
            raise AssertionError(f"{program} {decls}: not routed, jq raises {ex} on {text!r}")
        assert _norm(got) == _norm([tuple(w) for w in want]), (program, decls, text, got, want)
