"""Differential gate for the scalar fast path (evaluator.py
compile_scalar): every program is compiled TWICE — once normally
(scalar path active) and once with _DISABLE_SCALAR forcing the
generator compilers — and both the output streams and the raised
errors must match on every input.

Covers each scalar-compiled construct (paths, index_on, object/
string/array construction, arithmetic + comparison order, and/or/alt
short-circuits, if-chains, as-bindings, reduce, whitelisted builtin
calls, the lean select and iterate_on specializations) plus the
funcdef gate (a program that shadows a whitelisted builtin must use
the shadowed definition) and hypothesis-generated random programs.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import hive_jq_udtf_spark.jqlib.evaluator as E
from hive_jq_udtf_spark.jqlib import JQError


def both_ways(src: str, value):
    """(outcome, payload) under each compile mode; outcome is
    'ok' -> list of outputs, 'err' -> error text."""
    results = []
    for disable in (False, True):
        E._COMPILE_CACHE.clear()
        E._DISABLE_SCALAR = disable
        try:
            prog = E.JQProgram(src)
            try:
                results.append(("ok", prog(value)))
            except JQError as ex:
                results.append(("err", str(ex)))
        finally:
            E._DISABLE_SCALAR = False
    E._COMPILE_CACHE.clear()
    return results


PROGRAMS = [
    # paths / index / iterate specializations
    (".a.b", {"a": {"b": 1}}),
    (".a[1]", {"a": [1, 2, 3]}),
    (".a | .[]", {"a": [1, 2]}),
    (". as $d | $d.xs[]", {"xs": [5, 6]}),
    (".a", 5),  # error: index number with "a"
    # arithmetic / comparison, incl. error ordering (right first)
    (".a + .b", {"a": 1, "b": 2}),
    ('(.a + 1) * (.b - 2)', {"a": 3, "b": 10}),
    ('."x" >= 2', {"x": 3}),
    ('(1/0) == (null + 1)', None),  # both sides error; right's wins
    ('1 + "x"', None),
    # and / or / alt
    ('.a and (1/0 | . > 0)', {"a": False}),  # short-circuit: no error
    ('.a or .b', {"a": None, "b": 1}),
    ('.a // "dflt"', {"a": None}),
    ('(.a | tonumber) // "caught"', {"a": "zz"}),  # alt catches left error
    # constructors
    ('{x: .a, ("k" + "2"): 7}', {"a": 1}),
    ('{(.k): 1}', {"k": 5}),  # non-string key error
    ('"v=\\(.a + 1)!"', {"a": 4}),
    ('[.xs[] | . * 2]', {"xs": [1, 2]}),
    # if / as / reduce
    ('if .a > 1 then "big" elif .a > 0 then "small" else "neg" end', {"a": 1}),
    ('.n as $n | $n + 1', {"n": 41}),
    ('reduce .xs[] as $x (0; . + $x)', {"xs": [1, 2, 3]}),
    ('reduce .xs[] as $x (0; . + $x)', {"xs": []}),
    # whitelisted builtin calls
    ('.s | ascii_downcase | startswith("ab")', {"s": "ABc"}),
    ('.xs | map(. + 1) | add', {"xs": [1, 2]}),
    ('.s | gsub("[aeiou]"; "_")', {"s": "banana"}),
    ('.xs | sort_by(-.) | join(",")', {"xs": ["b", "a"]}),
    ('.o | has("k")', {"o": {"k": 1}}),
    ('.xs | length + 1', {"xs": [1, 2, 3]}),
    # lean select
    ('.xs[] | select(. % 2 == 0)', {"xs": [1, 2, 3, 4]}),
    ('[.xs[] | select(. > 10)] | length', {"xs": [1, 2]}),
    # laziness must survive: dropped streams never evaluate
    ('[limit(0; error("boom"))]', None),
    ('[limit(1; 1, error("boom"))]', None),
    ('first(.xs[] | select(. > 1))', {"xs": [1, 2, 3]}),
    # try/catch and slices (round-4 wave 3 scalar constructs)
    ('try (.a | tonumber) catch "bad"', {"a": "12"}),
    ('try (.a | tonumber) catch "bad"', {"a": "zz"}),
    ('try (1/0) catch .', None),
    ('.s[2:5]', {"s": "abcdefgh"}),
    ('.xs[1:]', {"xs": [1, 2, 3]}),
    ('.xs[:-1]', {"xs": [1, 2, 3]}),
    ('.s[.a:.b]', {"s": "abcdef", "a": 1, "b": 4}),
    ('.s["x":2]', {"s": "abc"}),  # non-numeric index error
    ('.x[1:2]', {"x": 5}),  # slice of number errors
    # funcdef gate: user shadowing of a whitelisted builtin MUST win
    ('def length: 99; .s | length', {"s": "abcdef"}),
    ('def add: "shadowed"; .xs | add', {"xs": [1, 2]}),
    ('def gsub(a; b): "x"; gsub("a"; "b")', "banana"),
    ('def any(g; f): 1; any(.[]; .)', [False]),
    ('def numbers: "n"; [.[] | numbers]', [1, "a"]),
    # compile-time kernels: literal-pattern regex builtins
    ('gsub("[aeiou]"; "")', "education"),
    ('sub("[aeiou]"; "")', "education"),
    ('gsub("an"; "AN")', "banana"),
    ('sub("(?<x>a)"; "<\\(.x)>")', "banana"),  # interpolated: generic
    ('gsub("a"; "\\\\1\\\\g<0>")', "banana"),  # backslashes are literal
    ('gsub("A"; "-"; "i")', "bAnana"),
    ('gsub("a n"; "-"; "x")', "banana"),
    ('sub("a"; "-"; "g")', "banana"),
    ('gsub("a"; "-"; "n")', "banana"),
    ('gsub("a"; "-"; null)', "banana"),
    ('gsub("a"; "-"; "q")', "banana"),  # invalid flags: generic error
    ('gsub("[aeiou]"; "")', 5),  # error text of a non-string input
    ('sub("a"; "")', None),
    ('[.[] | gsub("o"; "0")]', ["foo", ["o"]]),
    # patterns that can match empty stay generic
    ('gsub("a*"; "-")', "baaac"),
    ('gsub("\\\\b"; "|")', "ab cd"),
    ('gsub("(?=a)"; "^")', "banana"),
    ('gsub("$"; "E")', "ab"),
    ('gsub(""; "_")', "ab"),
    ('gsub("a*"; "-"; "n")', "baaac"),
    ('sub("x*"; "-")', "ab"),
    ('test("A"; "i")', "xa"),
    ('test("^t[0-4]$")', "t3"),
    ('test("^t[0-4]$")', "t9"),
    ('test("a"; null)', "bab"),
    ('test("a b"; "x")', "xab"),
    ('test("a")', 1),
    ('[.[] | select(test("b"))]', ["ab", "cd", "bb"]),
    ('test("(")', "a"),  # invalid pattern: generic, per row
    ('if . == "x" then test("(") else "ok" end', "y"),  # ... dead branch
    ('if . == "x" then gsub("("; "") else "ok" end', "y"),
    # compile-time kernels: the prelude's reduce/select helpers
    ('any', [False, None, 1]),
    ('any', []),
    ('all', [True, 1, "a"]),
    ('all', [True, None]),
    ('any', 5),
    ('any(. > 2)', [1, 3]),
    ('all(. > 0)', {"a": 1, "b": 0}),
    ('any(.tags[]?; . == "t1")', {"tags": ["t0", "t1"]}),
    ('any(.tags[]?; . == "t1")', {"tags": 7}),
    ('all(.[]; . > 0)', []),
    ('any(.[]; error("e"))', [True, 1]),  # no short-circuit: still raises
    ('all(.[]; if . then error("f") else false end)', [False, True]),
    ('any(.[]; (., .))', [False, True]),
    ('add', [1, 2, 3]),
    ('add', ["a", "b"]),
    ('add', [[1], [2]]),
    ('add', [{"a": 1}, {"b": 2}]),
    ('add', []),
    ('add', {"a": 1, "b": 2}),
    ('add', [1, "a"]),
    ('add', None),
    ('[.. | numbers] | add', {"a": [1, {"b": 2.5}], "c": "x"}),
    ('[.[] | values]', [1, None, False]),
    ('[.[] | nulls]', [1, None, False]),
    ('[.[] | booleans]', [1, None, False, True]),
    ('[.[] | numbers]', [1, None, 2.5, True, "1"]),
    ('[.[] | strings]', [1, "a", ["b"]]),
    ('[.[] | arrays]', [1, [2], {"c": 3}]),
    ('[.[] | objects]', [1, [2], {"c": 3}]),
    ('[.[] | iterables]', [1, [2], {"c": 3}, "s"]),
    ('[.[] | scalars]', [1, [2], {"c": 3}, "s", None]),
]


@pytest.mark.parametrize("src,value", PROGRAMS, ids=[p[0][:48] for p in PROGRAMS])
def test_scalar_matches_generator(src, value):
    a, b = both_ways(src, value)
    assert a == b, f"scalar {a!r} != generator {b!r}"


# -- hypothesis: random compositions of scalar-able constructs --------

_leaf = st.sampled_from([".", ".a", ".b", '.c', "1", "2.5", '"s"', "null", "true"])
_ops = st.sampled_from(["+", "-", "*", "==", "!=", "<", ">=", "//", "and", "or"])


@st.composite
def programs(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        return draw(_leaf)
    kind = draw(st.integers(0, 5))
    if kind == 0:
        return f"({draw(programs(depth + 1))} {draw(_ops)} {draw(programs(depth + 1))})"
    if kind == 1:
        return f"({draw(programs(depth + 1))} | {draw(programs(depth + 1))})"
    if kind == 2:
        return f"{{x: {draw(programs(depth + 1))}, y: {draw(programs(depth + 1))}}}"
    if kind == 3:
        return f"[{draw(programs(depth + 1))}]"
    if kind == 4:
        return (
            f"(if {draw(programs(depth + 1))} then {draw(programs(depth + 1))}"
            f" else {draw(programs(depth + 1))} end)"
        )
    return f"({draw(programs(depth + 1))} as $v | ($v // {draw(programs(depth + 1))}))"


_values = st.sampled_from(
    [None, 0, 1, -2, 2.5, "s", True, {"a": 1, "b": "x", "c": [1, 2]}, [1, 2], {}]
)


@settings(max_examples=300, deadline=None)
@given(src=programs(), value=_values)
def test_random_programs_match(src, value):
    a, b = both_ways(src, value)
    assert a == b, f"{src!r} on {value!r}: scalar {a!r} != generator {b!r}"


# -- kernels vs generic on random strings ------------------------------

_KERNEL_PROGRAMS = [
    'gsub("[aeiou]"; "")', 'sub("ab"; "\\\\x")', 'gsub("a+b?"; "<>"; "i")',
    'gsub("(?<=a)b"; "B")', 'gsub("\\\\s+"; " ")', 'sub("^a"; "")', 'gsub("b$"; "!")',
    'gsub("a*"; "-")', 'gsub("\\\\b"; "|")', 'gsub(""; ".")', 'gsub("a*"; "-"; "n")',
    'test("ab")', 'test("^A"; "i")', 'test("a b"; "x")',
]


@settings(max_examples=200, deadline=None)
@given(
    src=st.sampled_from(_KERNEL_PROGRAMS),
    value=st.text(alphabet="abAB \n\u00e9", max_size=12),
)
def test_kernels_match_generic_on_random_strings(src, value):
    a, b = both_ways(src, value)
    assert a == b, f"{src!r} on {value!r}: kernel {a!r} != generic {b!r}"


def test_kernels_are_selected(monkeypatch):
    """The literal-pattern gsub and the prelude's any/2 compile to their
    kernels: the generic paths they replace are never entered."""

    def boom(*_a, **_k):
        raise AssertionError("generic path entered")

    monkeypatch.setattr(E, "_sub_impl", boom)
    monkeypatch.setattr(E, "_call_funcdef", boom)
    E._COMPILE_CACHE.clear()
    assert E.JQProgram('gsub("[aeiou]"; "")')("education") == ["dctn"]
    assert E.JQProgram('any(.tags[]?; . == "t1")')({"tags": ["t1"]}) == [True]
    assert E.JQProgram('[.[] | numbers] | add')([1, "a", 2]) == [3]
    # an interpolated replacement stays on the generic path
    with pytest.raises(AssertionError, match="generic path"):
        E.JQProgram('gsub("a"; "\\(.)")')("a")


def test_disable_hook_skips_scalar_everywhere(monkeypatch):
    """With ``_DISABLE_SCALAR`` set, no shape compiles through
    ``compile_scalar`` — the lean select and the iterate specialization
    included — so the differential above compares two different code
    paths."""

    def boom(*_a, **_k):
        raise AssertionError("compile_scalar entered")

    monkeypatch.setattr(E, "compile_scalar", boom)
    monkeypatch.setattr(E, "_DISABLE_SCALAR", True)
    E._COMPILE_CACHE.clear()
    try:
        prog = E.JQProgram(".xs[] | select(.a == 1)")
        assert prog({"xs": [{"a": 1}, {"a": 2}]}) == [{"a": 1}]
    finally:
        E._COMPILE_CACHE.clear()
