"""Property-based tests (SURVEY §5 item 4, hypothesis):

1. engine-level: jq evaluator agrees with reference-marshalling
   invariants on random JSON (no SparkSession — fast).
2. tier-level: native Catalyst compilation agrees with the Python
   evaluator on random clean documents for random simple-path
   programs (run through the engine-free marshalling path; the
   Spark-session equivalence of the same plans is pinned separately
   in test_native.py).
"""

import json
import math

from hypothesis import given, settings, strategies as st

from hive_jq_udtf_spark.jqlib import JQError, jq_compile, tojson
from hive_jq_udtf_spark.udtf import run_jq

# --- random JSON values ----------------------------------------------------

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=12),
)

json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=6), children, max_size=4),
    ),
    max_leaves=12,
)


@given(json_values)
@settings(max_examples=200, deadline=None)
def test_identity_roundtrip(v):
    """`.` emits exactly the input; tojson∘fromjson is identity."""
    out = jq_compile(".")(v)
    assert out == [v]
    assert jq_compile("tojson | fromjson")(v) == [json.loads(tojson(v))]


@given(json_values)
@settings(max_examples=200, deadline=None)
def test_length_nonnegative(v):
    try:
        (n,) = jq_compile("length")(v)
    except JQError:
        assert isinstance(v, bool)
        return
    assert (isinstance(n, (int, float))) and n >= 0


@given(st.lists(st.integers(min_value=-1000, max_value=1000), max_size=20))
@settings(max_examples=200, deadline=None)
def test_sort_matches_python(xs):
    (out,) = jq_compile("sort")(xs)
    assert out == sorted(xs)
    (u,) = jq_compile("unique")(xs)
    assert u == sorted(set(xs))
    (r,) = jq_compile("reverse")(xs)
    assert r == xs[::-1]
    (s,) = jq_compile("add // 0")(xs)
    assert s == sum(xs)


@given(st.dictionaries(st.text(min_size=1, max_size=6), st.integers(), max_size=8))
@settings(max_examples=200, deadline=None)
def test_entries_roundtrip(d):
    (out,) = jq_compile("to_entries | from_entries")(d)
    assert out == d
    (ks,) = jq_compile("keys")(d)
    assert ks == sorted(d.keys())


@given(json_values, st.text(min_size=1, max_size=6))
@settings(max_examples=200, deadline=None)
def test_setpath_getpath(v, key):
    prog = jq_compile(f"setpath([{json.dumps(key)}]; 42)")
    try:
        (out,) = prog(v)
    except JQError:
        assert not (v is None or isinstance(v, dict))
        return
    assert out[key] == 42
    assert jq_compile(f"getpath([{json.dumps(key)}])")(out) == [42]


@given(st.lists(st.integers(), min_size=0, max_size=15), st.integers(0, 20))
@settings(max_examples=200, deadline=None)
def test_limit_slice(xs, n):
    got = jq_compile(f"[limit({n}; .[])]")(xs)
    assert got == [xs[:n]]
    got = jq_compile(f".[0:{n}]")(xs)
    assert got == [xs[:n]]


# --- marshalling invariants ------------------------------------------------

field_names = st.sampled_from(["a", "b", "c", "k"])


@given(
    st.dictionaries(
        field_names,
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=150, deadline=None)
def test_int_extraction_matches(doc):
    """Lenient marshalling on clean ints == raw value; missing → NULL."""
    js = json.dumps(doc)
    rows = run_jq(".", js, "a:int", "b:int", "c:int", "k:int")
    assert rows == [tuple(doc.get(f) for f in ["a", "b", "c", "k"])]


# --- native-tier agreement (plan-level, engine-free check of the IR) -------

from hive_jq_udtf_spark.native import analyze_program

simple_paths = st.lists(field_names, min_size=1, max_size=3).map(
    lambda fs: "." + ".".join(fs)
)


@given(simple_paths)
@settings(max_examples=100, deadline=None)
def test_simple_paths_always_compile_native(path_prog):
    ir = analyze_program(path_prog)
    assert ir is not None
    assert ir.single_path == tuple(path_prog[1:].split("."))


@given(simple_paths, json_values)
@settings(max_examples=150, deadline=None)
def test_path_eval_total(path_prog, v):
    """Path programs never crash with `?`; bare access only raises
    the documented type errors."""
    outs = jq_compile(f"{path_prog}?")(v)
    assert len(outs) <= 1


# --- expression-projection sub-language: native must agree with jqlib ---

_ops = st.sampled_from(["+", "-", "*", "%"])
_cmps = st.sampled_from([">", ">=", "<", "<=", "==", "!="])


@given(
    st.dictionaries(
        st.sampled_from(["k", "n"]),
        st.integers(min_value=1, max_value=10_000),
        min_size=2,  # both keys present: jq aborts arith on missing keys
        max_size=2,
    ),
    _ops,
    _cmps,
    st.integers(min_value=1, max_value=100),
)
@settings(max_examples=40, deadline=None)
def test_expression_projection_tiers_agree(doc, op, cmp_op, lit):
    """For clean docs, the compiled Catalyst expression and the
    from-scratch jq evaluator produce identical values."""
    import json

    from hive_jq_udtf_spark.jqlib import jq_compile
    from hive_jq_udtf_spark.native import analyze_program

    prog = f"{{v: (.k {op} {lit}), c: (.n {cmp_op} {lit})}}"
    if op == "*":
        # r10 (_proves_num): a numeric literal does NOT prove `*`
        # numeric — jq string repetition ("x" * 3) pairs a string
        # with a number — so `.k * lit` falls back to the Python tier
        assert analyze_program(prog) is None
    else:
        # `+ - %` with a numeric-literal operand are number-or-error
        assert analyze_program(prog) is not None
    [res] = list(jq_compile(prog)(doc))
    expect_v = {
        "+": doc["k"] + lit,
        "-": doc["k"] - lit,
        "*": doc["k"] * lit,
        "%": doc["k"] % lit if (doc["k"] < 0) == (lit < 0) or doc["k"] % lit == 0 else doc["k"] % lit - lit,
    }[op]
    assert res["v"] == expect_v
    assert res["c"] == {
        ">": doc["n"] > lit, ">=": doc["n"] >= lit, "<": doc["n"] < lit,
        "<=": doc["n"] <= lit, "==": doc["n"] == lit, "!=": doc["n"] != lit,
    }[cmp_op]


@given(
    st.dictionaries(
        st.sampled_from(["a", "b"]),
        st.one_of(st.none(), st.text(max_size=8)),
        max_size=2,
    )
)
@settings(max_examples=60, deadline=None)
def test_strcat_projection_semantics(doc):
    """String-literal-anchored + chains stay native-compilable and
    jqlib evaluates them with jq's null/missing identity — the
    semantics the strcat spec compiles (tier equivalence on Spark is
    pinned in test_native.py)."""
    from hive_jq_udtf_spark.native import compile_native

    prog = '{s: ("L" + .a + "-" + .b)}'
    assert compile_native(prog, ("s:string",)) is not None
    [res] = list(jq_compile(prog)(doc))
    assert res["s"] == "L" + (doc.get("a") or "") + "-" + (doc.get("b") or "")
