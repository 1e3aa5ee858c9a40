"""Native Catalyst tier (SURVEY §4.2): correctness vs the Python
UDTF tier on clean data, and plan assertions (no Python execution
node in the physical plan)."""

import json
import random
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_jq_udtf_spark.native import analyze_program, compile_native
from hive_jq_udtf_spark.udtf import jq_explode, run_jq

from conftest import collect_routed, native_rows


def test_analyze_accepts_simple_paths():
    assert analyze_program(".k") is not None
    assert analyze_program(".a.b[0]") is not None
    assert analyze_program("{x: .a, y: .b}") is not None
    assert analyze_program("select(.k > 5) | {k: .k}") is not None


def test_analyze_rejects_general_programs():
    assert analyze_program("reduce .[] as $x (0; . + $x)") is None
    assert analyze_program(".a as $x | $x") is None
    assert analyze_program(".[] | .a + 1") is None
    assert analyze_program("if .a then .b else .c end") is None
    assert analyze_program("to_entries") is None
    # programs that iterate run on the Python tier
    assert analyze_program(".arr[]") is None
    assert analyze_program('.tz[] | select(.name == "T") | .offset') is None
    assert analyze_program("limit(2; .a)") is None


def _python_tier_only(spark, cases):
    """Each ``(program, decls, docs)`` case does not compile natively,
    ``native="require"`` raises on it, and ``native="auto"`` gives for
    every document, in order, the rows ``run_jq`` gives (jq must not
    fail on any of them).  All cases run in one Spark job."""
    src = spark.createDataFrame(
        [(k, i, d) for k, (_, _, docs) in enumerate(cases) for i, d in enumerate(docs)],
        "__case int, __row int, __doc string",
    )
    frames, want = [], {}
    for k, (prog, decls, docs) in enumerate(cases):
        assert compile_native(prog, decls) is None, prog
        with pytest.raises(ValueError):
            jq_explode(src, "__doc", prog, *decls, native="require")
        out = jq_explode(src.where(F.col("__case") == k), "__doc", prog, *decls)
        names = out.columns[len(src.columns):]
        row = F.to_json(F.struct(*names), {"ignoreNullFields": "false"})
        frames.append(out.select("__case", "__row", row))
        for i, d in enumerate(docs):
            want[k, i] = [dict(zip(names, r)) for r in run_jq(prog, d, *decls)]
    got: dict = {key: [] for key in want}
    for k, i, r in reduce(DataFrame.union, frames).collect():
        got[k, i].append(json.loads(r))
    for (k, i), rows in want.items():
        assert got[k, i] == rows, (cases[k][0], cases[k][2][i])


def _docs(df):
    """The ``j`` documents of a fixture frame, by ``id``."""
    return [r.j for r in df.orderBy("id").select("j").collect()]


@pytest.fixture(scope="module")
def docs_df(spark):
    random.seed(7)
    rows = []
    for i in range(200):
        doc = {
            "k": random.randint(0, 100),
            "name": random.choice(["Tokyo", "Paris", "NY"]),
            "nested": {"v": random.random() * 10},
            "arr": [
                {"name": random.choice(["a", "b"]), "offset": random.randint(-600, 600)}
                for _ in range(random.randint(0, 4))
            ],
            "tags": [random.choice(["x", "y", "z"]) for _ in range(random.randint(0, 3))],
        }
        rows.append((i, json.dumps(doc)))
    return spark.createDataFrame(rows, "id int, j string")


TIER_CASES = [
    ("{k: .k}", ("k:int",)),
    ("{k: .k, name: .name}", ("k:int", "name:string")),
    (".k", ("int",)),
    (".name", ("string",)),
    (".nested.v", ("double",)),
    ("select(.k > 50) | {k: .k}", ("k:int",)),
    ('select(.name == "Tokyo") | .k', ("int",)),
    ("{v: .nested.v, first_tag: .tags[0]}", ("v:double", "first_tag:string")),
]
TIER_ITERATE_CASES = [
    (".arr[]", ("name:string", "offset:int")),
    (".arr[] | .offset", ("int",)),
    (".tags[]", ("string",)),
    ('.arr[] | select(.name == "a") | {offset}', ("offset:int",)),
    ('.arr[] | select(.offset > 0)', ("name:string", "offset:int")),
]


@pytest.mark.parametrize(
    "program,decls", TIER_CASES + TIER_ITERATE_CASES, ids=[c[0] for c in TIER_CASES + TIER_ITERATE_CASES]
)
def test_native_matches_python_tier(docs_df, program, decls):
    if (program, decls) in TIER_ITERATE_CASES:
        _python_tier_only(docs_df.sparkSession, [(program, decls, _docs(docs_df))])
        return
    plan = compile_native(program, decls)
    assert plan is not None, f"expected native compilation for {program!r}"
    nat = jq_explode(docs_df, "j", program, *decls, native="require")
    py = jq_explode(docs_df, "j", program, *decls, native="never")
    cols = [c for c in nat.columns if c != "j"]
    rows, sent = collect_routed(nat.select(cols))
    assert sent == 0, "a clean fixture sends no row to Python"
    a = sorted(map(tuple, rows))
    b = sorted(map(tuple, py.select(cols).collect()))
    assert a == b


def test_native_fallback_runs_python(docs_df):
    out = jq_explode(docs_df, "j", "[.k] | add", "int", native="auto")
    assert out.count() == 200


def test_require_raises_on_general_program(docs_df):
    with pytest.raises(ValueError):
        jq_explode(docs_df, "j", "reduce .[] as $x (0; .+$x)", "int", native="require")


def test_native_expression_projection_equivalence(spark):
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame(
        [('{"k": 7}',), ('{"k": 55}',), ('{"k": 0}',), ('{"k": -13}',), ('{"k": 100}',)],
        "j string",
    )
    prog = "{k: .k, big: (.k > 50), bucket: (.k % 10), inc: (.k + 1), r: (.k / 4)}"
    decls = ("k:int", "big:boolean", "bucket:int", "inc:int", "r:double")
    nat = sorted(map(tuple, jq_explode(df, "j", prog, *decls, native="require").drop("j").collect()), key=str)
    py = sorted(map(tuple, jq_explode(df, "j", prog, *decls, native="never").drop("j").collect()), key=str)
    assert nat == py


def test_native_expression_null_plus_identity(spark):
    # jq: null + 1 == 1 (null-identity for +) — preserved natively
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame([('{"k": null}',), ("{}",)], "j string")
    out = jq_explode(df, "j", "{inc: (.k + 1)}", "inc:int", native="require").collect()
    assert [r.inc for r in out] == [1, 1]


def test_native_expression_no_python_node(spark):
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame([('{"k": 1}',)], "j string")
    out = jq_explode(df, "j", "{b: (.k % 10)}", "b:int", native="require")
    assert collect_routed(out)[1] == 0


def test_native_string_concat_compiles_and_gates(spark):
    """r9: `+`-chains anchored by a STRING literal compile natively
    as concatenation (strcat spec); unanchored path-only chains fall
    back (jq's + is polymorphic there — compiling them as double
    addition silently diverged on string data); numeric declared
    targets for a concat fall back too."""
    from hive_jq_udtf_spark.native import compile_native
    from hive_jq_udtf_spark.udtf import jq_explode

    assert compile_native('{s: (.name + "x")}', ("s:string",)) is not None
    assert compile_native('{s: ("p" + .a + "-" + .b)}', ("s:string",)) is not None
    # unanchored path-only + : polymorphic in jq, falls back
    assert compile_native("{s: (.a + .b)}", ("s:string",)) is None
    assert compile_native("{n: (.a + .b)}", ("n:double",)) is None
    # ... but any numeric anchor keeps the numeric compile
    assert compile_native("{n: (.a + .b + 1)}", ("n:double",)) is not None
    # `* 2` is NOT an anchor (jq string repetition: "x" * 2 == "xx",
    # so `.a + .b * 2` with string .b concatenates — r10 ADVICE fix);
    # `%` and a subtraction with a literal operand still prove numbers
    assert compile_native("{n: (.a + .b * 2)}", ("n:double",)) is None
    assert compile_native("{n: (.a + .b % 2)}", ("n:double",)) is not None
    assert compile_native("{n: (.a * 2)}", ("n:double",)) is None
    assert compile_native("{n: (.a * 2 - 1)}", ("n:double",)) is not None
    # concat into a numeric declared type needs Jackson coercion -> Python
    assert compile_native('{n: (.a + "x")}', ("n:int",)) is None

    # Python tier agrees on string data for the unanchored chain
    df = spark.createDataFrame([('{"a":"xx","b":"yy"}',)], "j string")
    out = jq_explode(df, "j", "{s: (.a + .b)}", "s:string", native="auto").collect()
    assert [r.s for r in out] == ["xxyy"]


_STRCAT_DOCS = [
    '{"a": "x", "b": "y", "items": [{"t": "u"}, {"t": ""}]}',
    '{"a": "", "b": "q", "items": []}',
    '{"a": null, "b": "z", "items": [{"t": "w"}]}',  # null identity
    '{"b": "only", "items": [{}]}',  # missing a AND missing t
]


def test_native_strcat_matches_python_tier(spark):
    df = spark.createDataFrame([(d,) for d in _STRCAT_DOCS], "j string")
    for prog, decls in [
        ('{s: (.a + "-")}', ("s:string",)),
        ('{s: ("<" + .a + "|" + .b + ">")}', ("s:string",)),
        ('{s: (.a + .b + "!")}', ("s:string",)),
    ]:
        nat = jq_explode(df, "j", prog, *decls, native="require")
        py = jq_explode(df, "j", prog, *decls, native="never")
        cols = [c for c in nat.columns if c != "j"]
        rows, sent = collect_routed(nat.select(cols))
        assert sent == 0, prog
        assert sorted(map(tuple, rows), key=str) == sorted(
            map(tuple, py.select(cols).collect()), key=str
        ), prog


def test_native_unproven_arithmetic_falls_back(spark):
    """r10 (ADVICE medium): `- * /` are NOT numeric anchors — jq
    defines `-` on arrays, `*` on strings/objects, `/` on strings.
    The exact ADVICE shape `.a + .b * 2` with string .b concatenates
    in jq ("x" + "yy" == "xyy"); the old anchor rule compiled it to
    double arithmetic and emitted NULL.  auto mode must route it
    through the Python tier and agree."""
    from hive_jq_udtf_spark.native import compile_native
    from hive_jq_udtf_spark.udtf import jq_explode

    assert compile_native("{s: (.a + .b * 2)}", ("s:string",)) is None
    assert compile_native("select(.b * 2 >= 6) | {b: .b}", ("b:string",)) is None
    df = spark.createDataFrame(
        [('{"a":"x","b":"y"}',), ('{"a":1,"b":3}',)], "j string"
    )
    out = jq_explode(df, "j", "{s: (.a + .b * 2)}", "s:string", native="auto")
    assert [r.s for r in out.collect()] == ["xyy", "7"]

    # jq total order: a string compares ABOVE every number, so the
    # select keeps string rows — compiling `.b * 2` numerically would
    # have dropped them
    df2 = spark.createDataFrame(
        [('{"b":"y"}',), ('{"b":2}',), ('{"b":4}',)], "j string"
    )
    out2 = jq_explode(
        df2, "j", "select(.b * 2 >= 6) | {b: .b}", "b:string", native="auto"
    )
    assert sorted(r.b for r in out2.collect()) == ["4", "y"]


def test_native_tostring_composite_number_canonicalization(spark):
    """r10 (ADVICE high): tostring / interpolation of OBJECT/ARRAY
    values prints NESTED numbers like jqlib's recursive
    canonical_number (1.0 -> 1, 2.50 -> 2.5, -0.0 -> 0) while number
    lookalikes inside nested STRINGS pass through untouched: every
    value holding a non-integer number goes to the Python tier."""
    docs = [
        '{"v": {"x": 1.0}}',
        '{"v": [1.0, 2.50, "1.0", 3]}',
        '{"v": {"s": "a:1.0,b", "y": -0.0}}',
        '{"v": {"n": 100.250, "m": [-0, 7.0]}}',
        '{"v": 1.0}',
        '{"v": "1.0"}',
        '{"v": {"s": "a:1.0,b", "n": [-0, 7]}}',
    ]
    df = _indexed(spark, docs)
    for prog in ['{t: "p-\\(.v)"}', "{t: (.v | tostring)}"]:
        nat, py, sent = _tiers_by_input(df, prog, "t:string")
        assert sent == 5, prog  # all but the string and integer docs
        assert nat == py, prog


_M2_DOCS = [
    '{"s": 1.0, "arr": [2.0, "2.0"], "items": [{"u": 3.0}, {"u": "3.0"}]}',
    '{"s": {"k": 1.0, "t": "1.0"}, "arr": [], "items": []}',
    '{"s": "1.0", "arr": [2.5], "items": [{"u": true}]}',
    '{"arr": [10.0], "items": [{}]}',
    # Jackson re-prints parsed doubles >= 1e7 in scientific form
    # ("1.23456789012345E14") — the variant path must still print
    # integer text for SCALAR integral floats below 1e17, incl.
    # the double-rounding case (9999999999999999.0 -> 1e16); a
    # scientific-looking STRING passes through untouched
    '{"s": 12345678.0, "arr": [1], "items": [{"u": 123456789012345.0}]}',
    '{"s": 9999999999999999.0, "arr": [], "items": []}',
    '{"s": "1.0E16", "arr": [], "items": []}',
]


def test_native_m2_stringify_number_normalization(spark):
    """r10 (deep-fuzz find): a PLAIN PATH projected to a
    STRING-declared output is M2 stringify (marshal.py::_as_string →
    jqlib tojson), so integral floats print without the fraction and
    nested numbers print like jq: the rows whose value holds a
    non-integer number go to the Python tier.  STRING values (even
    "1.0") pass through; missing stays NULL (M2, unlike tostring's
    "null")."""
    df = _indexed(spark, _M2_DOCS)
    cases = [  # with the count of docs whose rendered values hold floats
        ("{o: .s}", ("o:string",), 4),            # scalar projection
        (".s", ("string",), 4),                    # scalar single path
    ]
    for prog, decls, routed in cases:
        nat, py, sent = _tiers_by_input(df, prog, *decls)
        assert sent == routed, prog
        assert nat == py, prog


def test_native_corrupt_doc_takes_null_document_rows(spark):
    """Corrupt and NULL cells bind jq's null document: a plan whose
    program jq runs on null emits those rows natively (strcat's null
    identity gives "L-", interpolation "p-null", tostring "null"); one
    that jq fails on null routes them to the Python tier."""
    texts = ["{oops", None, '{"a": "x"}']
    for prog, null_row, good in [
        ('{s: ("L-" + .a)}', "L-", "L-x"),
        ('{s: "p-\\(.a)"}', "p-null", "p-x"),
        ("{s: (.a | tostring)}", "null", "x"),
    ]:
        got = native_rows(spark, compile_native(prog, ("s:string",)), texts)
        assert got == [[(null_row,)], [(null_row,)], [(good,)]], prog
    plan = compile_native("{s: (.a | ascii_downcase)}", ("s:string",))
    assert native_rows(spark, plan, texts) == [None, None, [("x",)]]


_EXPR_FILTER_DOCS = [f'{{"k": {i}, "a": [{{"b": {i % 7}}}]}}' for i in range(40)]


def test_native_expression_filters_equivalence(spark):
    df = spark.createDataFrame([(d,) for d in _EXPR_FILTER_DOCS], "j string")
    for prog, decls in [
        ("select(.k % 2 == 0) | {k: .k}", ("k:int",)),
        ("select(.k + 10 > 30) | {k: .k}", ("k:int",)),
        # `.b * 2` alone is unproven (string repetition overload);
        # the `+ 1` literal proves the chain number-or-error (r10)
        ("select(.a[0].b * 2 + 1 >= 7) | {k: .k}", ("k:int",)),
    ]:
        nat = sorted(map(tuple, jq_explode(df, "j", prog, *decls, native="require").drop("j").collect()), key=str)
        py = sorted(map(tuple, jq_explode(df, "j", prog, *decls, native="never").drop("j").collect()), key=str)
        assert nat == py, prog


def test_native_expr_filter_with_projection_of_other_field(spark):
    # an expression filter on one field, a projection of another
    prog = "select(.k % 2 == 0) | {v: .v}"
    df = spark.createDataFrame([('{"k": 2, "v": 20}',), ('{"k": 3, "v": 30}',)], "j string")
    out = jq_explode(df, "j", prog, "v:int", native="require").collect()
    assert [r.v for r in out] == [20]
    # under an iterate it runs on the Python tier
    _python_tier_only(spark, [(
        ".items[] | " + prog, ("v:int",), ['{"items": [{"k": 2, "v": 20}, {"k": 3, "v": 30}]}'],
    )])


def test_native_rejects_boolean_in_arithmetic(spark):
    # (.k > 1) + 1 is a jq type error; the native analyzer must
    # reject it (fall back) instead of emitting a Catalyst
    # BOOLEAN+INT expression that fails analysis
    from hive_jq_udtf_spark.native import compile_native

    assert compile_native("select((.k > 1) + 1 == 2) | {k: .k}", ("k:int",)) is None


def test_topk_kernels_preserve_string_ids(spark):
    from hive_jq_udtf_spark.operators.similarity import brute_force_topk, pairwise_cosine

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    out = brute_force_topk(df.where("vec_id = 'a'"), df, k=2, id_col="vec_id").collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [("a", 1), ("b", 2)]
    pairs = pairwise_cosine(df, threshold=0.9, id_col="vec_id").collect()
    assert [(r.vec_a, r.vec_b) for r in pairs] == [("a", "b")]


def test_native_fnchain_equivalence_and_unicode(spark):
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame(
        [('{"name": "HeLLo", "u": "xAbc", "v": "2.7", "w": "ÜBer 中文 ABC"}',)],
        "j string",
    )
    prog = (
        '{s: (.name | ascii_downcase), t: (.u | ltrimstr("x") | ascii_upcase),'
        ' n: (.v | tonumber), f: (.v | tonumber | floor), d: (.w | ascii_downcase)}'
    )
    decls = ("s:string", "t:string", "n:double", "f:bigint", "d:string")
    nat = jq_explode(df, "j", prog, *decls, native="require").drop("j").collect()
    py = jq_explode(df, "j", prog, *decls, native="never").drop("j").collect()
    assert nat == py
    assert nat[0].d == "Über 中文 abc"  # ascii_* folds A-Z only


def test_native_fnchain_in_explode(spark):
    prog = '.a[] | {s: (.n | ascii_downcase | rtrimstr(" x"))}'
    _python_tier_only(spark, [(prog, ("s:string",), ['{"a": [{"n": "AA x"}, {"n": "Bb"}]}'])])


def test_native_unknown_fn_falls_back(spark):
    from hive_jq_udtf_spark.native import compile_native

    assert compile_native("{s: (.name | gsub('a'; 'b'))}", ("s:string",)) is None


def test_native_alternative_operator(spark):
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame(
        [('{"a": 5, "b": "hi"}',), ('{"a": null}',), ("{}",), ('{"a": false, "b": false}',)],
        "j string",
    )
    prog, decls = '{x: (.a // 0), y: (.b // "na")}', ("x:int", "y:string")
    nat = jq_explode(df, "j", prog, *decls, native="require").drop("j").collect()
    py = jq_explode(df, "j", prog, *decls, native="never").drop("j").collect()
    assert nat == py  # incl. the //-substitutes-on-false edge


def test_native_alternative_under_iterate(spark):
    # boolean false and null/missing substitute, everything else passes
    doc = '{"a": [{"v": 1}, {}, {"v": false}]}'
    assert run_jq(".a[] | {v: (.v // 9)}", doc, "v:int") == [(1,), (9,), (9,)]
    _python_tier_only(spark, [(".a[] | {v: (.v // 9)}", ("v:int",), [doc])])


def test_native_alt_string_false_not_substituted(spark):
    # boolean false triggers //, the STRING "false" must not — the
    # variant type reader distinguishes them
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame(
        [('{"k": false}',), ('{"k": "false"}',), ('{"k": 7}',), ("{}",)], "j string"
    )
    prog, decls = '{k: (.k // -1)}', ("k:string",)
    nat = [r.k for r in jq_explode(df, "j", prog, *decls, native="require").drop("j").collect()]
    py = [r.k for r in jq_explode(df, "j", prog, *decls, native="never").drop("j").collect()]
    assert nat == py == ["-1", "false", "7", "-1"]


def test_native_ltrimstr_nonstring_passthrough(spark):
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame([('{"v": 123}',), ('{"v": "1ab"}',)], "j string")
    prog, decls = '{s: (.v | ltrimstr("1"))}', ("s:string",)
    nat = [r.s for r in jq_explode(df, "j", prog, *decls, native="require").drop("j").collect()]
    py = [r.s for r in jq_explode(df, "j", prog, *decls, native="never").drop("j").collect()]
    assert nat == py == ["123", "ab"]


def test_native_mixed_shape_access_falls_back(spark):
    from hive_jq_udtf_spark.native import compile_native

    assert compile_native(".arr[] | {x: .a, y: .a.b}", ("x:double", "y:double")) is None


def test_native_single_wrap_dispatch_pins(spark):
    """r11 jq1-widening edges: the synthetic single-field wrap only
    applies to bare single-TYPE decls — NAMED decls marshal
    non-object outputs as key lookups (NULL) and stay Python-tier;
    user object constructs marshal the WHOLE object into col1; map
    decls take M4's non-object → EMPTY map, which the project specs
    don't model."""
    from hive_jq_udtf_spark.native import compile_native

    assert compile_native(".name | tostring", ("k:string",)) is None
    assert compile_native("{a: .name}", ("string",)) is None
    assert compile_native(".name | tostring", ("map<string,int>",)) is None
    # plain bare paths keep the pre-existing single route (no wrap)
    from hive_jq_udtf_spark.native import analyze_program

    ir = analyze_program(".a.b")
    assert ir is not None and ir.project is None and not ir.wrapped_single


def test_native_keys_under_iterate_fuzz(spark):
    """Seeded fuzz (r11): keys/keys_unsorted under iterates over
    randomized key ORDERS and container shapes, at one and two iterate
    levels and through an object iterate (``.[]`` over an object
    iterates values): keys_unsorted keeps document order."""
    import json as _json
    import random

    rng = random.Random(1106)
    pool = ["zz", "aa", "Mm", "b2", "B1", "x", "_u", "k9"]

    def rand_obj():
        ks = rng.sample(pool, rng.randint(1, 5))
        return {k: rng.randint(0, 9) for k in ks}

    def rand_elem():
        # always a container (jq aborts keys on scalars/null)
        if rng.random() < 0.3:
            return [rng.randint(0, 9) for _ in range(rng.randint(0, 3))]
        return rand_obj()

    progs = [
        (".items[] | keys_unsorted", ("array<string>",), "arr"),
        (".items[] | keys", ("array<string>",), "arr"),
        (".items[] | {k: (.m | keys_unsorted)}", ("k:array<string>",), "m"),
        (".items[].m | keys_unsorted", ("array<string>",), "m"),
        (".lvls[].b[] | keys_unsorted", ("array<string>",), "mid"),
        (".obj[] | keys_unsorted", ("array<string>",), "objiter"),
    ]
    cases = []
    for prog, decls, fam in progs:
        docs = []
        for _ in range(12):
            if fam == "arr":
                doc = {"items": [rand_elem() for _ in range(rng.randint(0, 3))]}
            elif fam == "m":
                doc = {
                    "items": [
                        {"m": rand_obj()} for _ in range(rng.randint(0, 3))
                    ]
                }
            elif fam == "mid":
                doc = {
                    "lvls": [
                        {"b": [rand_obj() for _ in range(rng.randint(0, 2))]}
                        for _ in range(rng.randint(0, 2))
                    ]
                }
            else:
                doc = {
                    "obj": {
                        k: rand_obj()
                        for k in rng.sample(pool, rng.randint(1, 3))
                    }
                }
            docs.append(_json.dumps(doc))
        cases.append((prog, decls, docs))
    _python_tier_only(spark, cases)


# ---------------------------------------------------------------------------
# truthy select (ADVICE r1): exact jq truthiness via the variant reader
# ---------------------------------------------------------------------------

_TRUTHY_DOCS = [
    '{"items":[{"flag":"hello","v":1}],"flag":"hello","v":1}',
    '{"items":[{"flag":false,"v":2}],"flag":false,"v":2}',
    '{"items":[{"flag":"false","v":3}],"flag":"false","v":3}',
    '{"items":[{"flag":null,"v":4}],"flag":null,"v":4}',
    '{"items":[{"flag":true,"v":5}],"flag":true,"v":5}',
    '{"items":[{"v":6}],"v":6}',
    '{"items":[{"flag":0,"v":7}],"flag":0,"v":7}',
    '{"items":[{"flag":"null","v":8}],"flag":"null","v":8}',
]


_STRPRED_TYPE_DOCS = [
    # ADVICE r3 low: a non-string value must not substring-match its
    # JSON serialization
    '{"tag": "src1x", "items":[{"tag":"src1x","v":1}], "v": 1}',
    '{"tag": ["src1x"], "items":[{"tag":["src1x"],"v":2}], "v": 2}',
    '{"tag": {"src1x": 1}, "items":[{"tag":{"src1x":1},"v":3}], "v": 3}',
    '{"tag": 11, "items":[{"tag":11,"v":4}], "v": 4}',
    '{"items":[{"v":5}], "v": 5}',
]


def test_native_strpred_nonstring_routes_scalar_tier(spark):
    """Projected and select string predicates over a non-string value
    route the row to the Python tier (jq raises there) — never a match
    against the value's JSON text ('["src1x"]' would satisfy
    contains/test/startswith)."""
    prog = '{c: (.tag | contains("src")), s: (.tag | startswith("s")), t: (.tag | test("src1"))}'
    plan = compile_native(prog, ("c:boolean", "s:boolean", "t:boolean"))
    got = native_rows(spark, plan, _STRPRED_TYPE_DOCS)
    assert got == [[(True, True, True)], None, None, None, None]
    sel = compile_native('select(.tag | startswith("s")) | {v: .v}', ("v:int",))
    assert native_rows(spark, sel, _STRPRED_TYPE_DOCS) == [[(1,)], None, None, None, None]


def test_native_strpred_nonstring_routes_explode_tier(spark):
    """Under an iterate the program runs on the Python tier, which
    raises on a non-string value."""
    prog, decls = '.items[] | select(.tag | startswith("s")) | {v: .v}', ("v:int",)
    _python_tier_only(spark, [(prog, decls, _STRPRED_TYPE_DOCS[:1])])
    bad = spark.createDataFrame([(d,) for d in _STRPRED_TYPE_DOCS[1:]], "j string")
    with pytest.raises(Exception, match="jq error"):
        jq_explode(bad, "j", prog, *decls).collect()


def test_native_truthy_select_scalar_tier(spark):
    """Scalar-tier truthy select must match jq: only null/missing/false
    are falsy — the STRING values "false" and "null" are truthy
    (ADVICE r1 medium: get_json_object strips quotes)."""
    df = spark.createDataFrame([(d,) for d in _TRUTHY_DOCS], "j string")
    prog, decls = "select(.flag) | {v: .v}", ("v:int",)
    assert compile_native(prog, decls) is not None
    nat = sorted(r.v for r in jq_explode(df, "j", prog, *decls, native="require").collect())
    py = sorted(r.v for r in jq_explode(df, "j", prog, *decls, native="never").collect())
    assert nat == py == [1, 3, 5, 7, 8]


def test_native_truthy_select_explode_tier(spark):
    """Truthy select on an iterated element's string-valued field: jq
    truthiness, on the Python tier."""
    _python_tier_only(spark, [(".items[] | select(.flag) | {v: .v}", ("v:int",), _TRUTHY_DOCS)])


def test_native_truthy_select_shared_path_projection(spark):
    """Truthy filter and projection share a path."""
    prog, decls = ".items[] | select(.flag) | {f: .flag, v: .v}", ("f:string", "v:int")
    _python_tier_only(spark, [(prog, decls, _TRUTHY_DOCS)])


def test_native_truthy_then_numeric_filter_same_elem(spark):
    """Mixed truthy + comparison filters on different fields."""
    prog, decls = ".items[] | select(.flag) | select(.v > 2) | {v: .v}", ("v:int",)
    assert sorted(v for d in _TRUTHY_DOCS for (v,) in run_jq(prog, d, *decls)) == [3, 5, 7, 8]
    _python_tier_only(spark, [(prog, decls, _TRUTHY_DOCS)])


# ---------------------------------------------------------------------------
# native tier growth (r2): multi-iterate, string predicates, length,
# tostring, map projections
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def nested_df(spark):
    import json as _json
    import random as _random

    rng = _random.Random(13)
    rows = []
    for i in range(80):
        doc = {
            "name": rng.choice(["Tokyo", "Toronto", "paris", "NY"]),
            "s": rng.choice(["abc", "", "xyzw", None, 5, ["a", 1], {"k": 1, "j": 2}]),
            # always-typed scalar arrays for the arrayfn subset (jq
            # aborts on wrong-typed inputs, which the equivalence
            # harness can't tolerate row-wise)
            "nums": [
                rng.choice([1, 2, 7, 9, 3.5]) for _ in range(rng.randint(0, 4))
            ],
            "words": [
                rng.choice(["ab", "cd", "ef", ""]) for _ in range(rng.randint(0, 3))
            ],
            "orders": [
                {
                    "oid": i * 10 + j,
                    "tag": rng.choice(["red", "blue", "green"]),
                    "lines": [
                        {"sku": rng.choice(["a", "b", "c"]), "qty": rng.randint(1, 9)}
                        for _ in range(rng.randint(0, 3))
                    ],
                }
                for j in range(rng.randint(0, 3))
            ],
        }
        rows.append((i, _json.dumps(doc)))
    return spark.createDataFrame(rows, "id int, j string")


GROWTH_CASES = [
    # string predicates in select
    ('select(.name | startswith("T")) | {name}', ("name:string",)),
    ('select(.name | endswith("o")) | {name}', ("name:string",)),
    ('select(.name | test("^T.*o$")) | {name}', ("name:string",)),
    # length in projections (array/object/string/number/null via variant)
    ("{n: (.orders | length)}", ("n:int",)),
    ("{n: (.s | length)}", ("n:double",)),
    # tostring (string view == jq compact tojson; null → "null")
    ("{t: (.s | tostring)}", ("t:string",)),
    # map-typed projections (M4: object → map, else {})
    ("{m: .s}", ("m:map<string,int>",)),
    # native reduce → aggregate() fold (numeric custom reductions)
    ("{s: (reduce .nums[] as $v (0; . + $v))}", ("s:double",)),
    ("{q: (reduce .nums[] as $v (0; . + $v * $v)), n: (.nums | length)}",
     ("q:double", "n:int")),
    ("{w: (reduce .nums[] as $v (1; . * 2 - $v / 2))}", ("w:double",)),
    # `not` (negated jq truthiness) and `has` in select
    ('select(.name | not) | {name}', ("name:string",)),
    ('select(.orders | has(1)) | {name}', ("name:string",)),
    # round-3 growth: if/else projections, gsub, array fns, projected
    # string predicates, split-index
    ('{hi: (if .s > 2 then "big" else "small" end)}', ("hi:string",)),
    ('{hi: (if .name | startswith("T") then .name else "other" end)}', ("hi:string",)),
    ('{g: (.name | gsub("o"; "0"))}', ("g:string",)),
    ('{g: (.name | gsub("[aeiou]"; "$1"))}', ("g:string",)),
    ("{a: (.nums | add)}", ("a:double",)),
    ("{a: (.nums | add)}", ("a:int",)),
    ("{mx: (.nums | max), mn: (.nums | min)}", ("mx:int", "mn:int")),
    ("{f: (.words | first), l: (.words | last)}", ("f:string", "l:string")),
    ("{r: (.nums | reverse)}", ("r:array<int>",)),
    ("{s2: (.nums | sort)}", ("s2:array<double>",)),
    ("{u: (.nums | unique)}", ("u:array<double>",)),
    ('{j2: (.words | join("-"))}', ("j2:string",)),
    ("{m2: (.orders | map(.oid))}", ("m2:array<int>",)),
    ('{t: (.name | test("^T")), c: (.name | contains("or"))}', ("t:boolean", "c:boolean")),
    ('{p: (.name | split("o")[0])}', ("p:string",)),
    ('{p: (.name | split("o")[2])}', ("p:string",)),
    # round-8 growth: `keys` (sorted) via the variant reader — array
    # input yields index keys (jq semantics); object cases live in
    # test_native_keys_sorted_matches_python_tier (nested_df has no
    # always-object field, and jq aborts `keys` on scalars)
    ("{k: (.orders | keys)}", ("k:array<int>",)),
    ("{k: (.nums | keys), n: (.nums | length)}", ("k:array<int>", "n:int")),
    # round-10 growth: keys_unsorted (arrays -> index keys; object
    # document-order cases live in test_native_keys_sorted_...)
    ("{k: (.orders | keys_unsorted)}", ("k:array<int>",)),
    ("{k: (.nums | keys_unsorted)}", ("k:array<int>",)),
    # round-10 growth: @text/@json/@base64 interpolation (@text IS
    # tostring; @json quotes strings and canonicalizes numbers;
    # @base64 is utf-8 base64 of the tostring view)
    ('{t: @text "n-\\(.name)"}', ("t:string",)),
    ('{t: @json "q-\\(.name)-\\(.orders)"}', ("t:string",)),
    ('{t: @base64 "\\(.name)"}', ("t:string",)),
    # round-10 growth: tojson (leading: variant-gated canonical view
    # incl. quoted strings; non-leading: quotes the running string /
    # renders numbers bare)
    ("{t: (.s | tojson)}", ("t:string",)),
    ("{t: (.name | tojson)}", ("t:string",)),
    ("{t: (.name | ascii_downcase | tojson)}", ("t:string",)),
    # round-11 growth: keys/keys_unsorted as trailing bare calls in
    # the single-TYPE decl form; order-sensitive comparisons live in
    # test_native_keys_sorted_matches_python_tier
    (".nums | keys", ("array<int>",)),
    (".words | keys_unsorted", ("array<int>",)),
    ("keys", ("array<string>",)),
    ("keys_unsorted", ("array<string>",)),
    # trailing bare `length` (same single-call plumbing; numeric decl)
    (".s | length", ("double",)),
    ("length", ("int",)),
    # round-11: jq1-style bare single-TYPE programs — the tail wraps
    # as a synthetic {col1: <tail>} project (select stays in the pipe
    # prefix); same spec compilers as projections
    (".name | ascii_downcase", ("string",)),
    (".nums | add", ("double",)),
    ('.name | gsub("o"; "0")', ("string",)),
    ('"p-\\(.name)"', ("string",)),
    (".nums | reverse", ("array<double>",)),
    (".name | tostring", ("string",)),
    ('.name | split("o")[0]', ("string",)),
    # round-11: length-predicate selects (pipe binds looser than the
    # comparison, so both parse shapes must land) and the `type` head
    ("select(.nums | length > 2) | {name}", ("name:string",)),
    ("select((.nums | length) > 2) | {name}", ("name:string",)),
    ("select(.nums | length == 0) | {name}", ("name:string",)),
    ("select(.name | length >= 2) | {name}", ("name:string",)),
    ("select(2 < (.nums | length)) | {name}", ("name:string",)),
    ("{t: (.s | type)}", ("t:string",)),
    ("{t: (.nums | type), u: (.name | type), w: (.missing | type)}",
     ("t:string", "u:string", "w:string")),
    (".s | type", ("string",)),
    ("{T: (.name | type | ascii_upcase)}", ("T:string",)),
    # round-12 growth (VERDICT r11 #5): contains in select, full
    # split arrays
    ('select(.name | contains("or")) | {name}', ("name:string",)),
    ('{parts: (.name | split("o"))}', ("parts:array<string>",)),
    ('{p2: (.name | split("or")), oid0: (.orders | length)}',
     ("p2:array<string>", "oid0:int")),
    # round-13 growth (VERDICT r12 #5): array slices in scalar
    # projections — array decl slices arrays, string decl slices
    # strings (codepoints); negatives from the end, clamped,
    # lo/hi optional
    ("{v: .nums[1:3]}", ("v:array<double>",)),
    ("{v: .nums[:2]}", ("v:array<double>",)),
    ("{v: .nums[-2:]}", ("v:array<double>",)),
    ("{v: .nums[1:-1]}", ("v:array<double>",)),
    ("{v: .nums[3:1]}", ("v:array<double>",)),
    ("{v: .words[0:2]}", ("v:array<string>",)),
    ("{v: .name[1:4]}", ("v:string",)),
    ("{v: .name[-3:]}", ("v:string",)),
    ("{v: .name[:2], w: .nums[0:1]}", ("v:string", "w:array<double>")),
    (".nums[0:2]", ("array<double>",)),
    # round-14 growth (VERDICT r13 #4): sub (FIRST-occurrence replace,
    # spliced around regexp_instr — replacement inserted verbatim, $
    # and \ included) in fn chains; capture (named groups
    # → struct of regexp_extract, subset/reordered decls resolve by
    # name) in scalar projections
    ('{v: (.name | sub("o"; "0"))}', ("v:string",)),
    ('{v: (.name | sub("[aeiou]"; "$2"))}', ("v:string",)),
    ('{v: (.name | sub("^"; "p-"))}', ("v:string",)),
    ('{v: (.name | ascii_downcase | sub("o"; "Q"))}', ("v:string",)),
    ('{v: (.name | sub("[A-Z]"; "x") | ascii_upcase)}', ("v:string",)),
    ('.name | sub("o"; "0")', ("string",)),
    ('{c: (.name | capture("^(?<h>.)(?<rest>.*)$"))}',
     ("c:struct<h:string,rest:string>",)),
    ('{c: (.name | capture("^(?<h>.)(?<rest>.*)$"))}',
     ("c:struct<rest:string,h:string>",)),
    ('{c: (.name | capture("(?<low>[A-Za-z]+)"))}',
     ("c:struct<low:string>",)),
    ('{c: (.name | capture("^(?<a>.)(?:(?<b>.))"))}',
     ("c:struct<a:string,b:string>",)),
]

# programs that iterate (or ``limit``/``first`` over a path) run on the
# Python tier: ``auto`` gives jq's rows for every document
GROWTH_ITERATE_CASES = [
    # multi-level iterates
    (".orders[].lines[]", ("sku:string", "qty:int")),
    (".orders[] | .lines[] | {sku: .sku, qty: .qty}", ("sku:string", "qty:int")),
    (".orders[].lines[].qty", ("int",)),
    (".orders[].lines[] | select(.qty > 5) | {sku}", ("sku:string",)),
    ('.orders[] | select(.tag | startswith("r")) | {oid: .oid}', ("oid:int",)),
    ('.orders[] | select(.tag | test("l")) | {oid: .oid}', ("oid:int",)),
    (".orders[] | {n: (.lines | length), oid: .oid}", ("n:int", "oid:int")),
    (".orders[] | {t: (.oid | tostring)}", ("t:string",)),
    (".orders[] | {m: .lines[0]}", ("m:map<string,string>",)),
    (".orders[] | select(.lines | has(0)) | {oid: .oid}", ("oid:int",)),
    (".orders[] | select(.lines | has(2)) | {oid: .oid}", ("oid:int",)),
    (".orders[] | select(.lines[0] | not) | {oid: .oid}", ("oid:int",)),
    # limit/first pull only the elements they emit; nested caps
    # MIN-combine (the outer cap must not overwrite a tighter inner one)
    ("limit(2; .orders[]) | {oid: .oid}", ("oid:int",)),
    ("limit(3; .nums[])", ("double",)),
    ("limit(0; .nums[])", ("double",)),
    (".orders[] | limit(2; .lines[]) | {sku: .sku, qty: .qty}",
     ("sku:string", "qty:int")),
    ("first(.nums[])", ("double",)),
    ("limit(2; .name)", ("string",)),
    ("limit(5; first(.nums[]))", ("double",)),
    ("limit(5; limit(2; .nums[]))", ("double",)),
    ("limit(1; limit(3; .orders[])) | {oid: .oid}", ("oid:int",)),
    ("limit(2; limit(0; .nums[]))", ("double",)),
    ("first(limit(3; .nums[]))", ("double",)),
    ('.orders[] | {t: @json "o-\\(.tag)-\\(.oid)"}', ("t:string",)),
    ('.orders[] | {t: @base64 "\\(.tag)-\\(.oid)"}', ("t:string",)),
    (".orders[] | {t: (.lines | tojson)}", ("t:string",)),
    # keys/keys_unsorted/length of each element (orders[] elements are
    # always objects, so jq never aborts here)
    (".orders[] | keys", ("array<string>",)),
    (".orders[] | keys_unsorted", ("array<string>",)),
    (".orders[].lines[] | keys_unsorted", ("array<string>",)),
    (".orders[] | {oid: .oid, k: (.lines | keys)}", ("oid:int", "k:array<int>")),
    (".orders[] | {oid: .oid, k: (.lines | keys_unsorted)}",
     ("oid:int", "k:array<int>")),
    ("limit(2; .orders[]) | keys_unsorted", ("array<string>",)),
    (".orders[] | length", ("int",)),
    (".orders[].lines[] | length", ("int",)),
    ("limit(2; .orders[]) | length", ("int",)),
    (".orders[] | .oid | tostring", ("string",)),
    (".orders[] | .tag | ascii_upcase", ("string",)),
    ('.orders[] | select(.oid > 5) | .tag | ascii_downcase', ("string",)),
    ("limit(2; .orders[]) | .oid | tostring", ("string",)),
    (".orders[] | select(.lines | length > 1) | {oid: .oid}", ("oid:int",)),
    (".orders[] | {t: (.lines | type), oid: .oid}", ("t:string", "oid:int")),
    ('.orders[] | select(.tag | contains("re")) | {oid: .oid}', ("oid:int",)),
    # whole-element predicates and projections
    ('.orders[] | select(has("oid")) | {oid: .oid}', ("oid:int",)),
    ('.orders[] | select(has("missing")) | {oid: .oid}', ("oid:int",)),
    (".orders[] | select(not) | {oid: .oid}", ("oid:int",)),
    (".nums[] | select(. > 2) | {v: .}", ("v:double",)),
    (".nums[] | {v: .}", ("v:double",)),
    (".orders[] | select(length > 2) | {oid: .oid}", ("oid:int",)),
    ('.orders[] | {t: (.tag | sub("e"; "3")), oid: .oid}',
     ("t:string", "oid:int")),
]


@pytest.mark.parametrize(
    "program,decls",
    GROWTH_CASES + GROWTH_ITERATE_CASES,
    ids=[c[0] for c in GROWTH_CASES + GROWTH_ITERATE_CASES],
)
def test_native_growth_matches_python_tier(nested_df, program, decls):
    if (program, decls) in GROWTH_ITERATE_CASES:
        _python_tier_only(nested_df.sparkSession, [(program, decls, _docs(nested_df))])
        return
    plan = compile_native(program, decls)
    assert plan is not None, f"expected native compilation for {program!r}"
    nat = jq_explode(nested_df, "j", program, *decls, native="require")
    py = jq_explode(nested_df, "j", program, *decls, native="never")
    cols = [c for c in nat.columns if c != "j"]
    rows, sent = collect_routed(nat.select(cols))
    assert sent == 0
    a = sorted(map(tuple, rows), key=str)
    b = sorted(map(tuple, py.select(cols).collect()), key=str)
    assert a == b


def test_native_slice_dispatch(spark):
    """r13 slice growth (VERDICT r12 #5): non-array/string decls fall
    back to the Python tier, and so do slices UNDER AN ITERATE (r13
    scope).  A cross-type or object value routes its row
    (tests/test_native_differential.py's probe table)."""
    from hive_jq_udtf_spark.native import compile_native

    assert compile_native("{v: .a[1:3]}", ("v:int",)) is None
    assert compile_native(".items[] | {v: .a[1:3]}", ("v:array<int>",)) is None
    assert compile_native("{v: .a[1:3]}", ("v:array<int>",)) is not None


def test_native_has_key_object_membership(spark):
    rows = [
        ('{"m":{"v":1},"k":1}',),
        ('{"m":{},"k":2}',),
        ('{"m":{"v":null},"k":3}',),  # null value still HAS the key
    ]
    df = spark.createDataFrame(rows, "j string")
    prog = 'select(.m | has("v")) | {k: .k}'
    nat = jq_explode(df, "j", prog, "k:int", native="require")
    py = jq_explode(df, "j", prog, "k:int", native="never")
    rows, sent = collect_routed(nat)
    assert sent == 0
    assert sorted(r.k for r in rows) == sorted(r.k for r in py.collect()) == [1, 3]


def test_native_nonportable_regex_falls_back():
    # inline flags / lookarounds / unicode properties mean different
    # things (or nothing) in Java regex — must fall back, not diverge
    assert compile_native('select(.s | test("(?i)abc")) | {s}', ("s:string",)) is None
    assert compile_native(r'select(.s | test("\\p{L}+")) | {s}', ("s:string",)) is None
    assert compile_native(r'select(.s | test("a\\d+")) | {s}', ("s:string",)) is not None


def test_native_spec_tag_field_names_fall_back():
    # a projection path whose first field collides with an internal
    # spec marker must not be misread — falls back to the Python tier
    assert compile_native("{x: .lit.a}", ("x:string",)) is None
    assert compile_native("{x: .length.a}", ("x:string",)) is None
    assert compile_native("{x: .fnchain}", ("x:string",)) is None


def test_native_select_between_iterates_falls_back():
    assert (
        compile_native(".a[] | select(.x) | .b[]", ("v:int",)) is None
    )


OR_CASES = [
    ("select(.k > 50 or .k < 10) | {k: .k}", ("k:int",)),
    ('select((.name | startswith("T")) or .k < 20) | {k: .k}', ("k:int",)),
    ('select(.k > 30 and (.name == "Tokyo" or .name == "NY")) | {k: .k}', ("k:int",)),
]
OR_ITERATE_CASES = [
    ('.orders[] | select(.tag == "red" or .tag == "blue") | {oid: .oid}', ("oid:int",)),
    ('.orders[] | select((.tag | test("^r")) or (.tag | endswith("n"))) | {oid: .oid}', ("oid:int",)),
]


@pytest.mark.parametrize(
    "program,decls", OR_CASES + OR_ITERATE_CASES, ids=[c[0] for c in OR_CASES + OR_ITERATE_CASES]
)
def test_native_or_conditions(nested_df, program, decls):
    if (program, decls) in OR_ITERATE_CASES:
        _python_tier_only(nested_df.sparkSession, [(program, decls, _docs(nested_df))])
        return
    plan = compile_native(program, decls)
    assert plan is not None, program
    nat = jq_explode(nested_df, "j", program, *decls, native="require")
    py = jq_explode(nested_df, "j", program, *decls, native="never")
    cols = [c for c in nat.columns if c != "j"]
    rows, sent = collect_routed(nat.select(cols))
    assert sent == 0
    a = sorted(map(tuple, rows), key=str)
    b = sorted(map(tuple, py.select(cols).collect()), key=str)
    assert a == b


def test_native_or_of_ands_falls_back():
    assert (
        compile_native("select((.k > 1 and .k < 5) or .k > 90) | {k: .k}", ("k:int",))
        is None
    )


def test_native_reduce_rejects_non_arithmetic(spark):
    """Only numeric folds compile: string concat, foreign vars,
    comparisons and non-literal inits stay on the Python tier."""
    for prog in (
        '{s: (reduce .nums[] as $v (0; . + ($v | tostring)))}',
        '{s: (reduce .nums[] as $v (0; . + $other))}',
        '{s: (reduce .nums[] as $v (.base; . + $v))}',
        '{s: (reduce .nums[] as $v (0; if . > 3 then . else $v end))}',
        '{s: (reduce .nums[] as $v (0; . % 2))}',
    ):
        assert compile_native(prog, ("s:double",)) is None, prog


def test_native_sort_unique_nested_elements_fall_back(spark):
    """VERDICT r4 #2: sort/unique over nested element types must NOT
    compile natively — Spark's sort_array orders nested arrays/structs
    with JVM ordering, which diverges from jq's cross-type total order.
    The gate was dead code (unreachable after the reduce raise); these
    pin the restored behavior."""
    for decl in (
        "s:array<array<bigint>>",
        "s:array<struct<a:bigint>>",
        "s:array<map<string,bigint>>",
    ):
        assert compile_native("{s: (.xs | sort)}", (decl,)) is None, decl
        assert compile_native("{s: (.xs | unique)}", (decl,)) is None, decl
    # flat element types still compile, except into text: jq orders
    # and prints the numbers there (10 after 9), so those run on the
    # Python tier
    assert compile_native("{s: (.xs | sort)}", ("s:array<double>",)) is not None
    assert compile_native("{s: (.xs | unique)}", ("s:array<string>",)) is None


def test_native_sort_nested_require_raises(spark):
    """native='require' on a nested-element sort raises instead of
    silently mis-ordering; native='auto' falls back to the Python tier
    and matches jq's order."""
    df = spark.createDataFrame(
        [('{"xs":[[3,1],[2],[1,2,3]]}',), ('{"xs":[[2],[1,9]]}',)], ["j"]
    )
    prog = "{s: (.xs | sort)}"
    with pytest.raises(Exception):
        jq_explode(df, "j", prog, "s:array<array<bigint>>", native="require")
    out = {
        tuple(tuple(x) for x in r.s)
        for r in jq_explode(
            df, "j", prog, "s:array<array<bigint>>", native="auto"
        ).collect()
    }
    # jq sorts arrays lexicographically element-wise
    assert out == {((1, 2, 3), (2,), (3, 1)), ((1, 9), (2,))}


def test_native_projected_strpred_array_not_serialized_match(spark):
    """Projected test/contains/startswith are variant-gated: an array
    value whose JSON serialization contains the needle must NOT match
    (native yields the null→false delta, never a substring hit on the
    serialized text)."""
    df = spark.createDataFrame(
        [
            ('{"tags":["xylophone","b"]}',),  # serialization contains "x"
            ('{"tags":{"x":1}}',),  # object serialization contains "x"
            ('{"tags":"axe"}',),
            ('{"tags":"bob"}',),
        ],
        ["j"],
    )
    prog = '{has_x: (.tags | contains("x"))}'
    rows = sorted(
        (r.has_x,)
        for r in jq_explode(df, "j", prog, "has_x:boolean", native="require")
        .drop("j")
        .collect()
    )
    # only the real string "axe" matches; array/object rows are False
    assert rows == [(False,), (False,), (False,), (True,)]


def test_native_iterate_scalar_elements_preserve_rows(spark):
    """A scalar element marshals into named decls as a null-field row
    (M1/M3), so mixed object/scalar arrays keep one row per element."""
    docs = [
        '{"xs": [10, 20]}',        # all scalars
        '{"xs": []}',               # empty
        '{"xs": [{"v": 7}]}',       # object
        '{"xs": [{"v": 3}, "mix", 5]}',  # mixed
        '{"xs": [null, {"v": 1}]}',  # null element
    ]
    assert run_jq(".xs[]", docs[3], "v:int") == [(3,), (None,), (None,)]
    _python_tier_only(spark, [(".xs[]", ("v:int",), docs)])


def test_native_mixed_arrays_nested_and_multi_level(spark):
    """Mixed object/scalar arrays keep one row per element: under a
    NESTED named decl, under a bare scalar decl (an off-type element
    marshals leniently to 0), and at the inner level of a two-level
    iterate."""
    _python_tier_only(spark, [
        (".xs[]", ("v:array<int>",), ['{"xs": [{"v": [3]}, "mix", 5]}', '{"xs": [{"v": [1, 2]}]}']),
        (".xs[]", ("bigint",), ['{"xs": [1, "mix", 2]}', '{"xs": [3, 4]}']),
        (".evs[].tags[]", ("v:int",),
         ['{"evs":[{"tags":[{"v":1},{"v":2}]}]}', '{"evs":[{"tags":[{"v":3},"mix"]}]}']),
        (".evs[].tags[]", ("bigint",),
         ['{"evs":[{"tags":[1,2]},{"tags":[3]}]}', '{"evs":[{"tags":[4,"x"]}]}']),
    ])
    assert run_jq(".xs[]", '{"xs": [1, "mix", 2]}', "bigint") == [(1,), (0,), (2,)]


def test_native_ceil_matches_python_tier_and_log_stays_python(spark):
    # ceil is exactly portable and compiles natively; the
    # transcendentals must NOT compile (JVM libm is 1-ulp off Python's
    # correctly-rounded libm — the bit-equality contract would break)
    import pytest

    from hive_jq_udtf_spark.native import compile_native
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame(
        [('{"k": 7.3}',), ('{"k": -2.5}',), ('{"k": 100.01}',)], "j string"
    )
    prog = '{c: (.k | ceil), f: (.k | floor)}'
    decls = ("c:bigint", "f:bigint")
    nat = jq_explode(df, "j", prog, *decls, native="require").drop("j").collect()
    py = jq_explode(df, "j", prog, *decls, native="never").drop("j").collect()
    assert sorted(nat) == sorted(py)
    assert compile_native('{l: (.k | log2)}', ("l:double",)) is None
    assert compile_native('{e: (.k | exp)}', ("e:double",)) is None


def test_native_object_iteration_matches_python_tier(spark):
    # `.[]` over OBJECTS iterates values in document key order
    assert run_jq("limit(2; .[])", '{"b": 2, "a": 1, "c": 3}', "int") == [(2,), (1,)]
    _python_tier_only(spark, [
        (".[]", ("int",), ['{"b": 2, "a": 1, "c": 3}', "{}", '{"a": 11, "b": 22}', "[5, 6, 7]", "[]"]),
        ("limit(2; .[])", ("int",), ['{"b": 2, "a": 1, "c": 3}']),
        (".[] | {n: .n}", ("n:int",), ['{"x": {"n": 1}, "y": {"n": 2}}']),
        (".items[]", ("int",), ['{"items": {"k2": 10, "k1": 9}}']),
    ])


def test_native_iterate_fuzz_arrays_objects_limit(spark):
    """Seeded fuzz: `.items[]` / `limit(n; .items[])` /
    `first(.items[])` over docs whose .items is randomly an ARRAY or an
    OBJECT give jq's rows in order; dirty batches (scalars, null,
    missing) make jq abort, and the query with it."""
    import json as _json
    import random

    rng = random.Random(17)

    def rand_items(allow_dirty):
        r = rng.random()
        if r < 0.45:
            return [
                rng.choice([rng.randint(0, 99), "w%d" % rng.randint(0, 9)])
                for _ in range(rng.randint(0, 4))
            ]
        if r < 0.9 or not allow_dirty:
            return {
                "k%d" % i: rng.choice(
                    [rng.randint(0, 99), "v%d" % rng.randint(0, 9)]
                )
                for i in range(rng.randint(0, 4))
            }
        return rng.choice([None, 7, "scal"])

    progs = [
        (".items[]", "string"),
        ("limit(2; .items[])", "string"),
        ("first(.items[])", "string"),
        ("limit(0; .items[])", "string"),
    ]
    cases, dirty = [], []
    for batch in range(16):
        allow_dirty = batch % 3 == 2
        prog, decl = progs[batch % len(progs)]
        docs = []
        for _ in range(15):
            d = {"items": rand_items(allow_dirty)}
            if allow_dirty and rng.random() < 0.2:
                d = {}  # .items missing entirely -> jq iterate error
            docs.append(_json.dumps(d))
        (dirty if allow_dirty else cases).append((prog, (decl,), docs))
    _python_tier_only(spark, cases)
    prog, decls, docs = dirty[0]
    df = spark.createDataFrame([(d,) for d in docs], "j string")
    with pytest.raises(Exception, match="jq error"):
        jq_explode(df, "j", prog, *decls).collect()


def test_layout_ring_is_thread_local_and_correct_concurrently(spark):
    """Two sessions running layout queries concurrently must (a) both
    produce exact results and (b) never evict each other's in-flight
    cache — the ring is per-thread (layout.py::_ring_persist).  Floods
    one thread with >8 global_ntile calls (forcing its ring to evict)
    while the other runs a chained double-prefix query."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.operators.layout import global_cumsum, global_ntile

    def flood():
        s = spark.newSession()
        outs = []
        for i in range(10):
            df = s.range(2000).select(
                (F.col("id") % 37).alias("k"), F.col("id").alias("id2")
            )
            outs.append(
                global_ntile(df, ["k", "id2"], 7, num_partitions=4).count()
            )
        return outs

    def chained():
        s = spark.newSession()
        df = s.range(5000).select(
            (F.col("id") % 101).alias("k"),
            F.col("id").alias("id2"),
            F.lit(1).alias("c"),
        )
        one = global_cumsum(df, ["k", "id2"], ["c"], num_partitions=4)
        two = global_cumsum(
            one.withColumnRenamed("cum_c", "c1"), ["k", "id2"], ["c1"],
            num_partitions=4,
        )
        rows = two.orderBy("k", "id2").collect()
        # exact sequential prefix: cum over a constant-1 column is the
        # 1-based rank; the chained prefix is the triangular sum
        for n, r in enumerate(rows, start=1):
            assert r["c1"] == n
            assert r["cum_c1"] == n * (n + 1) // 2
        return len(rows)

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(flood)
        f2 = ex.submit(chained)
        assert f1.result() == [2000] * 10
        assert f2.result() == 5000


def test_native_keys_sorted_matches_python_tier(spark):
    """`(.path | keys)` compiles natively: variant objects store
    fields sorted by key bytes, which IS jq's codepoint sort; arrays
    yield index lists.  r10: `keys_unsorted` compiles at the SCALAR
    tier too — json_object_keys over the raw text preserves DOCUMENT
    order where variants sort.  Under an iterate they run on the
    Python tier (test_iterate_programs_take_python_tier)."""
    cases = [
        ("{k: (.m | keys)}", ("k:array<string>",), [
            ('{"m": {"zz": 1, "aa": 2, "Mm": 3}}',),
            ('{"m": {}}',),
            ('{"m": [10, 20, 30]}',),
        ]),
        ("{k: (.m | keys)}", ("k:array<int>",), [('{"m": ["a", "b"]}',)]),
        # keys_unsorted: DOCUMENT order, not sorted — the zz/aa/Mm doc
        # distinguishes the two; arrays yield index keys like `keys`
        ("{k: (.m | keys_unsorted)}", ("k:array<string>",), [
            ('{"m": {"zz": 1, "aa": 2, "Mm": 3}}',),
            ('{"m": {}}',),
            ('{"m": {"b": {"x": 1}, "a": [1]}}',),
        ]),
        ("{k: (.m.b | keys_unsorted)}", ("k:array<string>",), [
            ('{"m": {"b": {"q2": 1, "q1": 2}}}',),
        ]),
        ("{k: (.m | keys_unsorted)}", ("k:array<int>",), [('{"m": ["a", "b"]}',)]),
    ]
    for prog, decls, rows in cases:
        df = spark.createDataFrame(rows, "j string")
        assert compile_native(prog, decls) is not None, prog
        nat = jq_explode(df, "j", prog, *decls, native="require")
        py = jq_explode(df, "j", prog, *decls, native="never")
        cols = [c for c in nat.columns if c != "j"]
        rows, sent = collect_routed(nat.select(cols))
        assert sent == 0
        assert rows == py.select(cols).collect(), prog
    # NAMED single decls stay Python-tier: keys output is an array
    # (non-object), which marshals into a named column as a
    # key-lookup → NULL; only the single-TYPE form takes the value
    assert compile_native(".m | keys", ("k:array<string>",)) is None
    assert compile_native(".items[] | keys_unsorted", ("k:array<string>",)) is None
    # keys over a CONSTRUCTED object stays Python-tier
    assert compile_native("{a: .m} | keys", ("array<string>",)) is None
    # non-array decl for the trailing form stays Python-tier
    assert compile_native(".m | keys", ("string",)) is None


def test_native_scientific_number_text_matches_python_tier(spark):
    """r11 (VERDICT r10 #7): number text on every stringify route is
    jq's: Jackson prints scientific for |v| >= 1e7 or < 1e-3 while jq
    switches at >= 1e16 / < 1e-4 ("1.0E20" vs "1e+20", "1.23456789E7"
    vs "12345678.9"), so every row whose value is a non-integer number
    goes to the Python tier, which prints it exactly — 3-digit
    exponents, BigDecimal re-prints and the JDK-4511638 digits
    (integral |v| in [1e17,1e19), deep subnormals) included."""
    lex = [
        "1e20", "1.5e-7", "0.0001", "12345678.9", "0.1", "1e16",
        "123456789.25", "2.5e15", "1e-4", "0.00015", "1e7",
        "9999999999999999.5", "1.5e300", "2e-308", "-1e20",
        "-0.00025", "1.0000000000000002e16", "3.14159", "42",
        "1.25e9", "-1.23456789e7", "7e-5", "123456.789",
        "2500000.5", "1e6", "0.001", "0.00099",
        "1.7976931348623157e308",
        # BigDecimal re-prints (trailing-zero mantissa, explicit "+"
        # exponent): "1.50e-7" → raw "1.50E-7", "150e20" → "1.50E+22"
        "1.50e-7", "150e20", "-2.50e-9",
        "1.7033882668101804e18", "5e-324",
    ]
    df = _indexed(spark, ['{"v": %s}' % l for l in lex])
    shapes = [
        ("{t: (.v | tostring)}", ("t:string",)),
        ("{t: (.v | tojson)}", ("t:string",)),
        ("{t: .v}", ("t:string",)),  # M2 plain-path stringify
        ('{t: "x=\\(.v)"}', ("t:string",)),
        ('{t: @json "\\(.v)"}', ("t:string",)),
    ]
    for prog, decls in shapes:
        nat, py, sent = _tiers_by_input(df, prog, *decls)
        assert sent == len(lex) - 1, prog  # every doc but "42"
        assert nat == py, prog
    # the text of a computed number does not compile
    with pytest.raises(ValueError):
        jq_explode(df, "j", "{t: (.v | fabs | tojson)}", "t:string", native="require")
    ndocs = [
        '{"v": {"x": 1e20}}',
        '{"v": {"x": 1.5e-7}}',
        '{"v": {"x": 1.5e300}}',
        '{"v": {"x": 2e-308}}',
        '{"v": {"x": 0.5}}',
        '{"v": {"x": 1.0}}',
        '{"v": {"x": -1e20}}',
        '{"v": ["s", 1e20, "text with 1.0E20 inside", -2.5e-9]}',
        '{"v": {"k": "1.0E300", "w": 7e-6}}',
        '{"v": {"a": 1.50e-7, "b": 150e20}}',
    ]
    ndf = _indexed(spark, ndocs)
    for prog in ["{t: (.v | tostring)}", "{t: (.v | tojson)}", "{t: .v}"]:
        nat, py, sent = _tiers_by_input(ndf, prog, "t:string")
        assert sent == len(ndocs), prog
        assert nat == py, prog


def test_native_format_interpolation_matches_python_tier(spark):
    """r10 (VERDICT r9 #6): `@text` interpolation compiles like plain
    interpolation (it IS tostring), `@json` compiles via the tojson
    view — strings come back QUOTED with JSON escaping (Jackson via
    to_json(struct(...)), matching jqlib's json.dumps shortcuts),
    composites keep document order, and rows holding non-integer
    numbers print them on the Python tier.  Other formats stay
    Python-tier."""
    docs = [
        '{"s": "a\\"b\\\\c", "n": 2.0, "o": {"y": 1.50, "x": "1.0"}}',
        '{"s": "plain", "n": -0.0, "o": [1, "two"]}',
        '{"s": "", "n": 7}',
        '{"s": "tab\\tnl\\n", "n": 0.25, "o": {}}',
        # non-ASCII stays unescaped in both engines (Jackson emits raw
        # utf-8 like json.dumps ensure_ascii=False); @base64 encodes
        # the utf-8 bytes
        '{"s": "caf\\u00e9 \\ud83d\\ude00", "n": 1, "o": {"k": "\\u00fc"}}',
        "{}",
    ]
    df = _indexed(spark, docs)
    for prog, routed in (  # docs whose .n or .o holds 2.0, -0.0, 0.25, 1.50
        ('{t: @text "v=\\(.s)|\\(.n)"}', 3),
        ('{t: @json "v=\\(.s)|\\(.n)|\\(.o)"}', 3),
        ('{t: @json "\\(.o)"}', 1),
        ('{t: @base64 "\\(.s)|\\(.n)"}', 3),
    ):
        nat, py, sent = _tiers_by_input(df, prog, "t:string")
        assert sent == routed, prog
        assert nat == py, prog
    # a corrupt doc binds jq's null document, like on the Python tier
    bad = spark.createDataFrame([("{oops",)], "j string")
    out = jq_explode(bad, "j", '{t: @json "x\\(.s)"}', "t:string", native="require")
    assert [r.t for r in out.collect()] == ["xnull"]
    # other @formats stay on the Python tier
    assert compile_native('{t: @csv "\\(.s)"}', ("t:string",)) is None
    assert compile_native('{t: @html "\\(.s)"}', ("t:string",)) is None


def test_native_inner_object_iteration_matches_python_tier(spark):
    """r9 (VERDICT r8 #4): `.a[].b[]` where the INNER iterate target
    is an OBJECT iterates its values in document key order."""
    cases = [(prog, decls, [doc]) for doc, decls, prog in (
        # inner object of scalars, document key order
        ('{"a": [{"b": {"z": 1, "m": 2}}, {"b": {"q": 3}}]}', ("int",), ".a[].b[]"),
        # inner object of OBJECTS, projected
        (
            '{"a": [{"b": {"y": {"n": 4}, "x": {"n": 5}}}]}',
            ("n:int",),
            ".a[] | .b[] | {n: .n}",
        ),
        # mixed: some inner targets arrays, some objects
        (
            '{"a": [{"b": [1, 2]}, {"b": {"w": 3, "v": 4}}]}',
            ("int",),
            ".a[].b[]",
        ),
        # limit at the inner level slices the object's values
        (
            '{"a": [{"b": {"k3": 7, "k1": 8, "k2": 9}}]}',
            ("int",),
            ".a[] | limit(2; .b[])",
        ),
        # three levels with objects at BOTH inner levels
        (
            '{"a": [{"b": {"o1": {"c": {"p": 1, "q": 2}}, "o2": {"c": {"r": 3}}}}]}',
            ("int",),
            ".a[].b[].c[]",
        ),
        # outer OBJECT whose values hold inner objects (level-0 object
        # + level-1 object)
        (
            '{"a": {"second": {"b": {"z": 1, "y": 2}}, "first": {"b": {"x": 3}}}}',
            ("int",),
            ".a[].b[]",
        ),
    )]
    _python_tier_only(spark, cases)


def test_native_inner_object_iteration_fuzz(spark):
    """Seeded fuzz over 2-level iterates whose inner target is
    randomly an array or an object."""
    import json as _json
    import random

    rng = random.Random(29)

    def rand_inner():
        if rng.random() < 0.5:
            return [rng.randint(0, 99) for _ in range(rng.randint(0, 3))]
        return {
            "k%d" % i: rng.randint(0, 99) for i in range(rng.randint(0, 3))
        }

    docs = [
        _json.dumps({"a": [{"b": rand_inner()} for _ in range(rng.randint(0, 3))]})
        for _ in range(72)
    ]
    _python_tier_only(spark, [(".a[].b[]", ("int",), docs)])


def test_native_inner_null_iterate_routes(spark):
    # jq raises iterating null/missing at an inner level, and so does
    # the query
    _python_tier_only(spark, [(".a[].b[]", ("int",), ['{"a": [{"b": [1, 2]}]}'])])
    bad = spark.createDataFrame([('{"a": [{"b": {"w": 3}}, {"c": 9}, {"b": null}]}',)], "j string")
    with pytest.raises(Exception, match="jq error"):
        jq_explode(bad, "j", ".a[].b[]", "int").collect()


def test_native_tostring_number_normalization(spark):
    """r9: leading `tostring` prints NUMBERS like jq — integral
    floats below 1e17 print without the fraction (1.0 -> "1",
    1e2 -> "100", -0.0 -> "0") — while a STRING "1.0" passes through
    untouched.  Rows whose value is a non-integer number go to the
    Python tier."""
    cases = [
        (
            [
                '{"a": 1.0}', '{"a": 2.50}', '{"a": 3}', '{"a": 1e2}',
                '{"a": "1.0"}', '{"a": "s"}', '{"a": -0.0}', "{}",
            ],
            '{t: (.a | tostring)}',
            4,
        ),
        # tostring feeding a later fn keeps the jq text
        (
            ['{"a": 10.0}', '{"a": "UP"}'],
            "{t: (.a | tostring | ascii_downcase)}",
            1,
        ),
    ]
    for docs, prog, routed in cases:
        nat, py, sent = _tiers_by_input(_indexed(spark, docs), prog, "t:string")
        assert sent == routed, prog
        assert nat == py, prog


def test_native_fnchain_head_type_gates(spark):
    """r9: jq type-constrained fnchain HEADS take only their type —
    a wrong-typed value routes its row to the Python tier (jq raises
    there), never a value computed from its serialization:
    `7 | ascii_downcase` must not emit "7", `"5" | floor` must not
    emit 5."""
    docs = [
        '{"a": 7}', '{"a": "Ab"}', '{"a": [1]}', '{"a": true}',
        '{"a": "5"}', '{"a": 5.0}', '{"a": null}',
    ]
    for prog, decl, expect in [
        ('{o: (.a | ascii_downcase)}', "o:string",
         [None, "ab", None, None, "5", None, None]),
        ('{o: (.a | gsub("b"; "X"))}', "o:string",
         [None, "AX", None, None, "5", None, None]),
        ('{o: (.a | split("b")[0])}', "o:string",
         [None, "A", None, None, "5", None, None]),
        ("{o: (.a | floor)}", "o:bigint",
         [7, None, None, None, None, 5, None]),
        ("{o: (.a | ceil)}", "o:bigint",
         [7, None, None, None, None, 5, None]),
    ]:
        got = native_rows(spark, compile_native(prog, (decl,)), docs)
        assert got == [None if e is None else [(e,)] for e in expect], prog


def test_native_string_interpolation_matches_python_tier(spark):
    """r9: jq string interpolation "a\\(.p)b" compiles natively —
    each interpolant is the tostring view (_tostring_view), so objects
    keep document key order, null/missing render "null", and floats
    print like jq ("1") on the Python tier.  Compared value-for-value
    with the Python tier."""
    docs = [
        '{"u": 7, "v": {"b": 2, "a": 1}}',
        '{"u": "id", "v": 1.0}',
        '{"u": null, "v": [1, "x"]}',
        '{"v": true}',
        '{"u": 2.5, "v": ""}',
    ]
    df = _indexed(spark, docs)
    for prog, decls, routed in [
        ('{s: "u=\\(.u)|v=\\(.v)!"}', ("s:string",), 2),
        ('{s: "\\(.u)"}', ("s:string",), 1),
        ('{s: "x\\(.v)y", u: .u}', ("s:string", "u:string"), 2),
    ]:
        assert compile_native(prog, decls) is not None, prog
        nat, py, sent = _tiers_by_input(df, prog, *decls)
        assert sent == routed, prog  # the docs holding 1.0 or 2.5
        assert nat == py, prog
    # r10: @text/@json/@base64 compile now (see
    # test_native_format_interpolation_matches_python_tier); escaping
    # formats without a codegen twin stay Python-tier
    assert compile_native('{s: @csv "\\(.u)"}', ("s:string",)) is None


def _dup_key_docs(docs) -> int:
    """How many of ``docs`` are JSON with a duplicate object key at
    any depth — the rows a native plan routes to the Python tier."""

    class Dup(Exception):
        pass

    def hook(pairs):
        if len({k for k, _ in pairs}) != len(pairs):
            raise Dup
        return dict(pairs)

    n = 0
    for d in docs:
        try:
            json.loads(d, object_pairs_hook=hook)
        except Dup:
            n += 1
        except (TypeError, ValueError):
            pass
    return n


def _rows_by_input(rows):
    """(i, value) rows grouped by input row id ``i``, in output order:
    the union of the two tiers may interleave input rows, but the
    rows of one input row keep jq's order."""
    out: dict = {}
    for i, v in rows:
        out.setdefault(i, []).append(v)
    return out


def _indexed(spark, docs):
    """``docs`` as a frame of input row id ``i`` and document ``j``."""
    return spark.createDataFrame(list(enumerate(docs)), "i int, j string")


def _tiers_by_input(df, prog, *decls):
    """Run ``prog`` on ``df`` (columns ``i``, ``j``) natively and on
    the Python tier: (native rows, Python-tier rows, routed row
    count), the rows grouped by input row (`_rows_by_input`)."""
    nat = jq_explode(df, "j", prog, *decls, native="require")
    py = jq_explode(df, "j", prog, *decls, native="never")
    cols = [c for c in nat.columns if c != "j"]
    rows, sent = collect_routed(nat.select(cols))

    def group(rs):
        return _rows_by_input([(r[0], tuple(r[1:])) for r in rs])

    return group(rows), group(py.select(cols).collect()), sent


def test_native_dup_key_last_wins(spark):
    """Duplicate-key documents read last-occurrence-wins like jq: a
    native plan routes them to the exact Python tier, and only them."""
    from hive_jq_udtf_spark.udtf import jq_explode

    num_docs = [
        '{"a":1,"a":2}',
        '{"a":null,"a":3}',
        '{"a":1.25,"a":7.5}',
        '{"a":1,"a":2,"a":9}',
        '{"a":1.5}',
    ]
    str_docs = ['{"a":"x","a":"y"}', '{"a":"u","a":"v","a":"w"}', '{"a":"p"}']
    obj_docs = [
        '{"a":{"b":1,"a":2}}',
        '{"a":{"k":1,"k":2,"j":3}}',
        '{"a":{"z":1,"m":2,"z":3}}',
    ]
    cases = [
        (num_docs, "{v: .a}", "v:int"),
        (num_docs, "{v: .a}", "v:double"),
        (num_docs, "{v: .a}", "v:string"),
        (num_docs, "{v: (.a|tostring)}", "v:string"),
        (num_docs, "{v: (.a|floor)}", "v:int"),
        (num_docs, "{v: (.a|type)}", "v:string"),
        (num_docs, '{v: "n-\\(.a)"}', "v:string"),
        (str_docs, "{v: .a}", "v:string"),
        (str_docs, "{v: (.a|ascii_upcase)}", "v:string"),
        (obj_docs, "{v: (.a|keys)}", "v:array<string>"),
        (obj_docs, "{v: (.a|keys_unsorted)}", "v:array<string>"),
        (obj_docs, "{v: (.a|length)}", "v:int"),
        # nested declared type: from_json resolves fields BY NAME, so
        # the variant's sorted-key text still lands last-wins values
        (
            ['{"a":{"x":1,"y":2},"a":{"x":9,"y":8}}', '{"a":{"y":4,"x":3}}'],
            "{v: .a}",
            "v:struct<x:int,y:int>",
        ),
        # r12 second audit: expr arithmetic, arrayfn folds, reduce,
        # and // alternatives must all see the LAST occurrence too
        (num_docs, "{v: (.a + 3)}", "v:double"),
        (
            ['{"xs":[1,2],"xs":[5,6,7]}', '{"xs":[9]}'],
            "{v: (.xs | add)}",
            "v:double",
        ),
        (
            ['{"xs":[1,2],"xs":[5,6,7]}', '{"xs":[9]}'],
            "{v: (reduce .xs[] as $q (0; . + $q))}",
            "v:double",
        ),
        (
            [
                '{"a":null,"a":"v"}',
                '{"a":"w","a":null}',
                '{"a":false,"a":"z"}',
                '{"a":"y","a":false}',
                '{"b":1}',
            ],
            '{v: (.a // "dflt")}',
            "v:string",
        ),
        (
            ['{"a":1,"a":null}', '{"a":null,"a":1}', '{"a":null}', '{"b":2}'],
            "select(.a == null) | {v: 1}",
            "v:int",
        ),
        (
            ['{"a":1,"a":null}', '{"a":null,"a":1}', '{"a":null}', '{"b":2}'],
            "select(.a != null) | {v: 1}",
            "v:int",
        ),
        # r13 (VERDICT r12 #4): former STRING-declared-composite
        # residuals — value-precise substitution makes ARRAY values,
        # single-key objects, and type-CHANGING duplicates exact
        (
            ['{"a":[1,2],"a":[5,6,7]}', '{"a":[9]}', '{"a":[1,"x",true]}'],
            "{v: .a}",
            "v:string",
        ),
        (
            ['{"a":{"k":1},"a":{"k":3}}', '{"a":{"z":2}}'],
            "{v: .a}",
            "v:string",
        ),
        (
            ['{"a":"x","a":[1,2]}', '{"a":[1,2],"a":"x"}', '{"a":[0],"a":7}'],
            "{v: .a}",
            "v:string",
        ),
        (
            ['{"a":[1,2],"a":[5,6]}', '{"a":"s","a":[2.5]}'],
            "{v: (.a|tostring)}",
            "v:string",
        ),
        (
            ['{"a":[1,2],"a":[5,6]}', '{"a":{"q":1},"a":{"q":4}}'],
            '{v: "n-\\(.a)"}',
            "v:string",
        ),
        # keys (sorted) reads the exact-typed variant: a duplicated
        # ANCESTOR path lists the LAST occurrence's keys
        (
            ['{"a":{"k":1},"a":{"z":2,"k":3}}', '{"a":{"m":1}}'],
            "{v: (.a|keys)}",
            "v:array<string>",
        ),
        # multi-key nested objects render in jq's key order (first
        # position, last value), subtree-internal duplicates included
        (
            ['{"a":{"k":1},"a":{"z":2,"k":3}}', '{"a":{"m":1}}'],
            "{v: .a}",
            "v:string",
        ),
        (
            ['{"a":{"k":1},"a":{"z":2,"k":3}}'],
            "{v: (.a|keys_unsorted)}",
            "v:array<string>",
        ),
        (['{"a":{"k":1,"k":3,"z":2}}'], "{v: .a}", "v:string"),
        (['{"a":{"b":1,"a":2,"b":3}}'], "{v: .a}", "v:string"),
        (
            ['{"a":{"x":{"m":1,"m":2,"n":5}},"a":{"x":{"q":1,"p":2,"q":7}}}'],
            "{v: .a}",
            "v:string",
        ),
        (
            ['{"a":[{"b":1,"b":2},{"c":3}],"a":[{"z":9,"y":8,"z":1}]}'],
            "{v: .a}",
            "v:string",
        ),
        (
            [
                '{"a":{"s":"x\\ny","t":1.50E2,"u":true,"w":null},'
                '"a":{"s":"p\\"q","n":-0.0,"s":"fin"}}'
            ],
            "{v: .a}",
            "v:string",
        ),
        (['{"a":{"k":1},"a":{"z":2,"k":3}}'], "{v: (.a|tostring)}", "v:string"),
        (['{"a":{"k":1},"a":{"z":2,"k":3}}'], "{v: (.a|tojson)}", "v:string"),
        (['{"a":{"k":1},"a":{"z":2,"k":3}}'], '{v: "n-\\(.a)"}', "v:string"),
        (
            ['{"a":[{"k":1},{"k":2,"j":9}],"a":[{"z":5,"y":4}]}'],
            "{v: .a[0]}",
            "v:string",
        ),
    ]
    for docs, prog, decl in cases:
        df = spark.createDataFrame(list(enumerate(docs)), "i int, j string")
        nat = jq_explode(df, "j", prog, decl, native="require")
        py = jq_explode(df, "j", prog, decl, native="never")
        rows, sent = collect_routed(nat.select("i", "v"))
        # a program reading .a as text also routes the clean float doc
        # '{"a":1.5}'
        text = docs is num_docs and decl == "v:string" and "type" not in prog
        assert sent == _dup_key_docs(docs) + text, (prog, decl)
        a = _rows_by_input(rows)
        b = _rows_by_input(py.select("i", "v").collect())
        assert a == b, (prog, decl, a, b)


def test_native_dup_key_gate_false_positive_safe(spark):
    """The duplicate-key route flag is exact: the same key at two
    different nesting levels, or a key lookalike inside a string, is
    no duplicate — those rows stay native and STRING-declared
    composites keep document key order."""
    from hive_jq_udtf_spark.udtf import jq_explode

    docs = [
        '{"a":1,"b":{"a":5}}',               # same key, two levels
        '{"a":{"x":1},"b":{"x":2}}',          # nested same-named keys
        '{"a":{"b":9,"x":1},"c":{"x":2}}',    # composite out, order-sensitive
        '{"k":"\\"a\\": text","a":3}',        # key lookalike inside a string
    ]
    df = spark.createDataFrame([(d,) for d in docs], "j string")
    # (no numeric decls here: two of the docs hold OBJECT values at
    # .a, which is the pre-existing lenient-coercion delta class —
    # Jackson-lenient 0 vs native NULL — unrelated to the dup gate)
    for prog, decl in [
        ("{v: .a}", "v:string"),
        ("{v: (.a|tostring)}", "v:string"),
        ('{v: "n-\\(.a)"}', "v:string"),
    ]:
        nat = jq_explode(df, "j", prog, decl, native="require")
        py = jq_explode(df, "j", prog, decl, native="never")
        rows, sent = collect_routed(nat.select("v"))
        assert sent == 0, (prog, decl)
        a = [tuple(r) for r in rows]
        b = [tuple(r) for r in py.select("v").collect()]
        assert a == b, (prog, decl, a, b)
    # order-sensitive composite: raw document key order must survive
    out = jq_explode(df, "j", "{v: .a}", "v:string", native="require")
    assert [r.v for r in out.collect()][2] == '{"b":9,"x":1}'


def test_native_dup_key_documented_residuals(spark):
    """Key order of a duplicate nested more than two levels below the
    read and escape-spelled duplicate keys are jq-exact: duplicate-key
    rows run on the Python tier."""
    from hive_jq_udtf_spark.udtf import jq_explode

    df = spark.createDataFrame(
        [('{"a":{"k":1},"a":{"z":2,"k":3}}',)], "j string"
    )
    out = jq_explode(
        df, "j", "{v: (.a|keys_unsorted)}", "v:array<string>", native="require"
    )
    assert [r.v for r in out.collect()] == [["z", "k"]]
    out2 = jq_explode(df, "j", "{v: .a}", "v:string", native="require")
    assert [r.v for r in out2.collect()] == ['{"z":2,"k":3}']
    # a duplicate THREE levels below the read keeps jq's key order
    deep = '{"a":{"l1":{"l2":{"l3":{"z":1,"b":2,"z":3}}}},"q":{"l1":0}}'
    dfd = spark.createDataFrame([(deep,)], "j string")
    outd = jq_explode(dfd, "j", "{v: .a}", "v:string", native="require")
    assert [r.v for r in outd.collect()] == [
        '{"l1":{"l2":{"l3":{"z":3,"b":2}}}}'
    ]
    # escape-spelled duplicate key: "a" == "\u0061" to jq, last wins
    df2 = spark.createDataFrame([('{"a":1,"\\u0061":2}',)], "j string")
    out3 = jq_explode(df2, "j", "{v: .a}", "v:int", native="require")
    rows, sent = collect_routed(out3)
    assert [r.v for r in rows] == [2] and sent == 1
    # reversed spelling order + an escaped key with NO duplication,
    # which stays native
    df3 = spark.createDataFrame(
        [(0, '{"\\u0061":7,"a":9}'), (1, '{"\\u0062x":3,"a":4}')],
        "i int, j string",
    )
    out4 = jq_explode(df3, "j", "{v: .a}", "v:int", native="require")
    rows, sent = collect_routed(out4.select("i", "v"))
    assert _rows_by_input(rows) == {0: [9], 1: [4]} and sent == 1


def test_native_nested_digit_shift_tokens(spark):
    """r12 (VERDICT r11 #4): NESTED scientific tokens whose jq form is
    positional (0 <= e <= 16 / -4 <= e <= -1) print like jq: every doc
    here holds one, so every row goes to the Python tier.  Tokens
    inside nested STRINGS stay untouched."""
    docs = [
        '{"v":{"a":1.23456789E7,"b":1.5E-4,"s":"keep 1.5E7 text","u":2.0E3}}',
        '{"v":[1.5E2,2.5E-3,1.0E16,"1.5E2",true,-1.75E7]}',
        '{"v":{"t":3.125E-2,"w":1.5E300,"y":2.5E-308}}',
        '{"v":[9.9E0,1.0E0,-3.5E-1,1.5E+7]}',
        '{"v":{"mix":[1.50E2,{"d":-2.5E-4}]}}',
        # r13 (ADVICE r12 high): multi-digit integer-part mantissas —
        # pre-fix these matched at an INTERIOR digit or swallowed an
        # integer-part zero and emitted silently wrong values
        # (21.5E-1 → 20.15, 20E3 → 2000); now exact via the
        # generalized rebuild (true-exponent shift)
        '{"v":[21.5E-1,-31.5E-2,20E3,12.5e3,99.0E1]}',
        '{"v":{"a":2.05E2,"b":250E-2,"c":25E16,"d":1200E-2}}',
        '{"v":[1005E-1,12.500E3,10.00E2,20E0,"skip 21.5E-1",19E1]}',
        '{"v":{"lc":[1.5e-1,7e2,-7.25e+1,1.5e20],"w":119E-1}}',
    ]
    df = _indexed(spark, docs)
    for prog in ["{t: (.v | tostring)}", "{t: (.v | tojson)}", '{t: "p-\\(.v)"}']:
        nat, py, sent = _tiers_by_input(df, prog, "t:string")
        assert sent == len(docs), prog
        assert nat == py, prog


_LEXEME_DOCS = [
    # repeated "u" keys at different positions, non-canonical
    # 1.50E2 in the order-sensitive composite
    '{"items":[{"u":1},{"u":2}],"x":{"b":1.50E2,"a":2}}',
    # trailing-zero decimal variant of the same shape
    '{"p":{"q":1},"r":{"q":2},"x":{"m":2.50,"z":1}}',
    # negative-zero-scale / plus-exponent lexemes
    '{"p":{"q":1},"r":{"q":2},"x":{"w":1E+2,"v":3.0}}',
]


def test_native_dup_key_false_positive_lexemes(spark):
    """A doc with NO true duplicate but repeated sibling keys in an
    array of objects, carrying a non-canonical number token (1.50E2,
    trailing-zero decimals), does not trip the duplicate-key route and
    keeps its document-order raw text with jq's number text."""
    df = spark.createDataFrame([(d,) for d in _LEXEME_DOCS], "j string")
    for prog, decl in [
        ("{v: .x}", "v:string"),
        ("{v: (.x|tostring)}", "v:string"),
        ("{v: (.x|keys_unsorted)}", "v:array<string>"),
        ('{v: "n-\\(.x)"}', "v:string"),
    ]:
        nat = jq_explode(df, "j", prog, decl, native="require")
        py = jq_explode(df, "j", prog, decl, native="never")
        a = [tuple(r) for r in nat.select("v").collect()]
        b = [tuple(r) for r in py.select("v").collect()]
        assert a == b, (prog, decl, a, b)
    # the repeated sibling keys stay native
    keys = jq_explode(df, "j", "{v: (.x|keys_unsorted)}", "v:array<string>", native="require")
    assert collect_routed(keys)[1] == 0
    # direct pins: document key order survives, numbers print like jq;
    # every .x holds a float, so every row reads on the Python tier
    out = jq_explode(df, "j", "{v: .x}", "v:string", native="require")
    rows, sent = collect_routed(out)
    assert sent == 3
    assert [r.v for r in rows] == [
        '{"b":150,"a":2}',
        '{"m":2.5,"z":1}',
        '{"w":100,"v":3}',
    ]


def test_native_digit_shift_three_digit_true_exponent(spark):
    """r14 (ADVICE r13 medium): tokens whose true decimal exponent has
    3 digits (12E99 is 1.2e+100) print with the whole exponent —
    pre-fix a truncating pad rendered '[12E99]' as '[1.2e+10]',
    silently off by 10^90.  The Python tier (jqlib) is the semantics
    oracle; every doc here holds a float, so every row goes there."""
    cases = [
        ("[12E99]", "[1.2e+100]"),
        ("[123E98]", "[1.23e+100]"),
        ("[12.5E99]", "[1.25e+100]"),
        ("[12E-99]", "[1.2e-98]"),
        ("[1.5E2]", "[150]"),
        ("[12E2]", "[1200]"),
    ]
    docs = ['{"v":%s}' % t for t, _ in cases]
    docs += ['{"v":[12E99,123E98,12E-99]}', '{"v":{"big":12.5E99}}']
    df = _indexed(spark, docs)
    for prog, pfx in [("{t: (.v | tostring)}", ""), ('{t: "p-\\(.v)"}', "p-")]:
        nat, py, sent = _tiers_by_input(df, prog, "t:string")
        assert sent == len(docs), prog
        assert nat == py, prog
        assert [nat[i] for i in range(len(cases))] == [
            [(pfx + w,)] for _, w in cases
        ], prog


def test_native_slice_missing_variant_raw_fallback(spark):
    """Slices of a duplicate-key document (which the variant parser
    rejects) read the last occurrence like jq, on the Python tier."""
    df = spark.createDataFrame(
        [('{"a":[1,2,3,4],"a":[9],"s":"hello"}',)], "j string"
    )
    arr = jq_explode(df, "j", "{v: .a[1:3]}", "v:array<int>", native="require")
    assert [r.v for r in arr.collect()] == [[]]
    s = jq_explode(df, "j", "{v: .s[1:4]}", "v:string", native="require")
    rows, sent = collect_routed(s)
    assert [r.v for r in rows] == ["ell"] and sent == 1


def test_native_sub_capture_dispatch():
    """r14 growth (VERDICT r13 #4) — dispatch pins for sub/capture.
    Non-portable or participation-unsafe capture patterns
    (alternation, zero-admitting quantifiers, plain capturing groups,
    inline flags) fall back to the Python tier.  A non-matching,
    non-string or missing input routes its row (jq yields no value or
    raises), which tests/test_native_differential.py checks."""
    from hive_jq_udtf_spark.native import _capture_names, compile_native

    # pattern-gate pins
    assert _capture_names(r"^(?<a>\d+)-(?<b>\w+)$") == ("a", "b")
    assert _capture_names(r"(?<a>x)|y") is None          # alternation
    assert _capture_names(r"(?<a>x)?") is None           # zero-admitting
    assert _capture_names(r"(?<a>x)*") is None
    assert _capture_names(r"(?<a>x){0,2}") is None
    assert _capture_names(r"(?:(?<a>x))?") is None       # nested optional
    assert _capture_names(r"(\d)(?<a>x)") is None        # plain group
    assert _capture_names(r"(?i)(?<a>x)") is None        # inline flag
    assert _capture_names(r"(?<a>x)(?<a>y)") is None     # dup name
    assert _capture_names(r"[(](?<a>x)") == ("a",)       # ( in class ok
    assert _capture_names(r"(?<a>x){1,3}") == ("a",)     # 1+ quantifier
    # dispatch pins
    assert compile_native(
        '{c: (.s | capture("(?<a>x)|y"))}', ("c:struct<a:string>",)
    ) is None
    assert compile_native(
        '{c: (.s | capture("(?<a>x)"))}', ("c:struct<zz:string>",)
    ) is None  # undeclared group name → Python tier
    assert compile_native(
        '{c: (.s | capture("(?<a>x)"))}', ("c:struct<a:int>",)
    ) is None  # non-string field → Python tier
    assert compile_native(
        '{c: (.s | capture("(?<a>x)"))}', ("c:string",)
    ) is None  # non-struct decl → Python tier
    assert compile_native(
        '.xs[] | {c: (.s | capture("(?<a>x)"))}', ("c:struct<a:string>",)
    ) is None  # under an iterate → Python tier (r14 scope)
    assert compile_native(
        '{v: (.s | sub("(?i)x"; "y"))}', ("v:string",)
    ) is None  # non-portable pattern → Python tier
    assert compile_native(
        '{c: (.s | capture("(?<a>x)"))}', ("c:struct<a:string>",)
    ) is not None
    assert compile_native(
        '{v: (.s | sub("x"; "y"))}', ("v:string",)
    ) is not None


def test_native_recipe_cache_identical_plans_and_results(spark):
    """r14 optimization: NativePlan memoization + recipe caching must
    be invisible — repeated jq_explode calls return the same plan
    (explain text) and the same rows as the first, across outer
    variants and distinct column names."""
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.native import compile_native
    from hive_jq_udtf_spark.udtf import jq_explode

    rows = [
        ('{"ids": [1,2,3,4,5], "tags":[{"id":1.0,"w":2.0},{"w":1.0}]}',),
        ('{"ids": [9], "tags":[{"w":1.0}]}',),
        ('{"ids": [], "tags": []}',),
    ]
    df = spark.createDataFrame(rows, "doc string")
    df2 = spark.createDataFrame(rows, "other string")

    # memoized plan instance: same (program, decls) → same object
    p1 = compile_native("{mid: .ids[1:4]}", ("mid:array<double>",))
    p2 = compile_native("{mid: .ids[1:4]}", ("mid:array<double>",))
    assert p1 is p2

    import re

    def run(frame, col, prog, *decls, outer=False):
        out = jq_explode(
            frame, col, prog, *decls, native="require", outer=outer
        )
        # exprIds (#NN) are allocated fresh per query; normalize them
        # so the comparison checks plan STRUCTURE identity
        plan = re.sub(
            r"#\d+", "#N", out._jdf.queryExecution().analyzed().toString()
        )
        return plan, sorted(map(str, out.collect()))

    for prog, decls, outer in [
        ("{mid: .ids[1:4], tail: .ids[-2:]}",
         ("mid:array<double>", "tail:array<double>"), False),
        ("select(.tags[0].id) | {id: .tags[0].id, w: .tags[0].w}",
         ("id:double", "w:double"), False),
        ("select(.tags[0].id) | {id: .tags[0].id}", ("id:double",), True),
    ]:
        plan_a, rows_a = run(df, "doc", prog, *decls, outer=outer)
        plan_b, rows_b = run(df, "doc", prog, *decls, outer=outer)
        assert rows_a == rows_b
        assert plan_a == plan_b  # cache-hit plan is bit-identical
        # a different column name must not read the cached "doc" recipe
        _, rows_c = run(df2, "other", prog, *decls, outer=outer)
        assert [r.split(", ", 1)[1] if ", " in r else r for r in rows_c]

    # outer=False vs outer=True are distinct cache entries
    prog = "select(.ids | length > 0) | {w: .tags[0].w}"
    _, inner_rows = run(df, "doc", prog, "w:double")
    _, outer_rows = run(df, "doc", prog, "w:double", outer=True)
    assert len(outer_rows) > len(inner_rows)  # the empty-ids row kept
    # Column-typed doc input (uncached path) still works
    out = jq_explode(
        df, F.col("doc"), "{n: (.ids | length)}", "n:int", native="require"
    )
    assert sorted(r.n for r in out.collect() if r.n is not None) == [0, 1, 5]


def test_native_outer_select_keeps_dropped_rows(spark):
    """LATERAL VIEW OUTER keeps an input row that select() drops, with
    NULL generated columns, on both tiers."""
    df = spark.createDataFrame([(1, '{"k": 1, "b": 2}'), (2, '{"k": 5, "b": 3}')], "id int, j string")
    got = {
        tier: sorted(
            map(tuple, jq_explode(df, "j", "select(.k == 1) | {b: .b}", "b:int", outer=True,
                                  native=tier).select("id", "b").collect())
        )
        for tier in ("require", "never")
    }
    assert got["require"] == got["never"] == [(1, 2), (2, None)]


def test_native_doc_binding_evaluates_suspect_and_parse_once(spark):
    """r15 bind-once: each branch of a compiled plan (native rows and
    duplicate-key rows) carries exactly ONE try_parse_json of the doc
    column, inside the one-element-explode binding, instead of
    re-deriving it per output-column read; the internal binding
    column must never leak into the output schema, and duplicate keys
    must still read last-occurrence-wins through the bound flag."""
    df = spark.createDataFrame(
        [
            (1, '{"a": [1,2,3,4,5], "t": "hi-en", "b": {"x": 1, "x": 2}}'),
            (2, '{"a": [], "t": "zz", "b": null}'),
            (3, "not json"),
            (4, None),
        ],
        "id long, doc string",
    )
    out = jq_explode(
        df,
        "doc",
        "{mid: .a[1:4], head: .t[0:4]}",
        "mid:array<double>",
        "head:string",
        native="require",
    )
    _, sent = collect_routed(out)
    assert sent == 1
    ep = out._jdf.queryExecution().executedPlan().toString()
    assert ep.count("parseJson(doc") == 2, ep.count("parseJson(doc")
    assert "RLIKE(doc" not in ep
    assert "__jq_docbind" not in [f.name for f in out.schema.fields]
    # last-occurrence-wins still routes through the bound suspect flag
    dup = jq_explode(
        df.where("id = 1"), "doc", "{bx: .b.x}", "bx:double",
        native="require",
    )
    assert [r.bx for r in dup.collect()] == [2.0]


def test_jq_explode_leaves_session_conf_unchanged(spark):
    """Compiling and running a native plan writes no session conf."""
    key = "spark.sql.variant.allowDuplicateKeys"
    before = spark.conf.get(key, None)
    df = spark.createDataFrame([('{"a":1,"a":2}',), ('{"a":3}',)], "j string")
    out = jq_explode(df, "j", "{v: .a}", "v:int", native="require")
    assert sorted(r.v for r in out.collect()) == [2, 3]
    assert spark.conf.get(key, None) == before


def test_native_allow_duplicate_keys_session_takes_python_tier(spark):
    """A session that lets the variant parser accept duplicate keys
    hides them from the route flag: "auto" then runs the Python tier,
    "require" raises naming the conf."""
    key = "spark.sql.variant.allowDuplicateKeys"
    df = spark.createDataFrame([('{"a":1,"a":2}',), ('{"a":3}',)], "j string")
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match=key):
            jq_explode(df, "j", "{v: .a}", "v:int", native="require")
        out = jq_explode(df, "j", "{v: .a}", "v:int", native="auto")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "__jq_docbind" not in plan and "ArrowEvalPython" in plan
        assert sorted(r.v for r in out.collect()) == [2, 3]
    finally:
        spark.conf.unset(key)


def test_native_nondeterministic_input_takes_python_tier(spark):
    """A native plan evaluates its input once per branch, so on a
    nondeterministic input (or doc column) "auto" takes the Python tier
    and "require" raises: a ``rand()``-built column of plain and routed
    (duplicate-key) documents gives exactly one row per input row.
    Spark's seeded ``rand()`` repeats its values in both branches; a
    nondeterministic Python UDF does not, and with two branches it
    lost and duplicated about a quarter of the rows."""
    n = 2000
    doc = F.when(F.rand() < 0.5, F.lit('{"a":1}')).otherwise(F.lit('{"a":2,"a":3}'))

    @F.udf("string")
    def coin(_):
        import random

        return '{"a":1}' if random.random() < 0.5 else '{"a":2,"a":3}'

    ids = spark.range(n).repartition(4)
    for src, column in [
        (ids.select("id", doc.alias("j")), "j"),
        (ids, doc),
        (ids.select("id", coin.asNondeterministic()("id").alias("j")), "j"),
    ]:
        with pytest.raises(ValueError, match="nondeterministic"):
            jq_explode(src, column, "{v: .a}", "v:int", native="require")
        out = jq_explode(src, column, "{v: .a}", "v:int")
        assert "__jq_docbind" not in out._jdf.queryExecution().analyzed().toString()
        rows = out.select("id", "v").collect()
        assert sorted(r.id for r in rows) == list(range(n))
        assert {r.v for r in rows} == {1, 3}
    # the same documents from a deterministic input still compile natively
    fixed = spark.range(n).select("id", F.when(F.col("id") % 2 == 0, F.lit('{"a":1}'))
                                  .otherwise(F.lit('{"a":2,"a":3}')).alias("j"))
    rows, sent = collect_routed(jq_explode(fixed, "j", "{v: .a}", "v:int", native="require"))
    assert len(rows) == n and sent == n // 2


@pytest.mark.parametrize("native", ["auto", "never"])
def test_jq_explode_odd_input_columns(spark, native):
    """Input columns named like the internal binding and generator
    columns pass through untouched, and duplicate input column names
    survive both tiers (branches concatenate by position)."""
    docs = [
        (7, '{"a":1,"xs":[1,2],"ys":[{"b":"p"}]}'),
        (8, '{"a":2,"a":5,"xs":[3],"ys":[{"b":"q"}]}'),
        (9, '{"a":3,"xs":[4],"ys":[{"b":"r"},{"b":1}]}'),
    ]
    names = ["__jq_docbind", "__jq_elem0", "__jq_pos0", "__jq_prefilter"]
    df = spark.createDataFrame(
        [(k, k, k, k, j) for k, j in docs],
        ", ".join(f"{n} int" for n in names) + ", j string",
    )
    for prog, decl, want in [
        ("{v: .a}", "v:int", [(7, 1), (8, 5), (9, 3)]),
        (".xs[] | {v: .}", "v:int", [(7, 1), (7, 2), (8, 3), (9, 4)]),
        ("select(.a > 1) | {v: .a}", "v:int", [(8, 5), (9, 3)]),
        (
            ".ys[] | {v: (.b | tojson)}",
            "v:string",
            [(7, '"p"'), (8, '"q"'), (9, "1"), (9, '"r"')],
        ),
    ]:
        out = jq_explode(df, "j", prog, decl, native=native)
        assert out.columns == names + ["j", "v"]
        rows = out.collect()
        assert all(len(set(r[:4])) == 1 for r in rows), (prog, rows)
        got = sorted((r[0], r[-1]) for r in rows)
        assert got == sorted(want), (prog, got)
    # a join is the usual source of duplicate names
    left = spark.createDataFrame(docs, "k int, j string")
    right = spark.createDataFrame([(7, 70), (8, 80)], "k int, w int")
    dup = left.join(right, left["k"] == right["k"]).select(
        left["k"], "j", right["k"]
    )
    out = jq_explode(dup, "j", "{v: .a}", "v:int", native=native)
    assert out.columns == ["k", "j", "k", "v"]
    assert sorted((r[0], r[2], r[3]) for r in out.collect()) == [
        (7, 7, 1),
        (8, 8, 5),
    ]


def test_native_number_text_matches_python_tier(spark):
    """Number-to-text shapes: ``native="auto"`` equals ``"never"`` per
    input row.  The native tier prints no number: rows whose
    text-read value holds a non-integer number go to the Python tier,
    computed numbers and the order-dependent array fns into a string
    slot do not compile, and numeric literals render as jq text."""
    docs = [
        '{"s":"ab","k":7,"n":-2.5,"v":"12","b":[10,9],"w":null}',
        '{"s":[1,2],"k":1.0,"n":1.0,"v":"2.5","b":[1.0,1e20],"w":1e20}',
        '{"s":{"x":1.0},"k":2.5,"n":1e20,"v":"1e20","b":[-0.0,2.5,"a"],'
        '"w":{"x":1.0}}',
        '{"s":"é","k":-0.0,"n":-0.0,"v":1.0,"b":["b","a",null,true],"w":false}',
        '{"s":"","k":-3,"n":3,"v":"7","b":[],"w":"t"}',
        '{"s":null,"k":0,"n":10,"v":"-0.0","b":["x"],"w":2.5}',
    ]
    df = _indexed(spark, docs)
    s, a = ("o:string",), ("o:array<string>",)
    shapes = [
        ("{o: (.s | length)}", s),
        ("{o: (.k / 3)}", s),
        ("{o: (.n | fabs)}", s),
        ('{o: (.n | ltrimstr("x"))}', s),
        ('{o: (.n | ltrimstr("x") | tojson)}', s),
        ("{o: (.v | tonumber | tostring)}", s),
        ("{o: (.v | tonumber | floor | tojson)}", s),
        ("{o: (.b | max)}", s),
        ("{o: (.b | min)}", s),
        ("{o: (.b | first)}", s),
        ("{o: (.b | last)}", s),
        ('{o: (.b | join(","))}', s),
        ("{o: (.w // 2.0)}", s),
        ("{o: (.b | sort)}", a),
        ("{o: (.b | unique)}", a),
        ("{o: .b}", a),
        ("{o: 1.0, k: .k}", ("o:string", "k:int")),
        ('if .k > 0 then 1e20 else "x" end', ("string",)),
    ]
    for prog, decls in shapes:
        got = jq_explode(df, "j", prog, *decls, native="auto")
        want = jq_explode(df, "j", prog, *decls, native="never")
        cols = [c for c in got.columns if c != "j"]

        def by_input(out):
            return _rows_by_input(
                [(r[0], tuple(r[1:])) for r in out.select(cols).collect()]
            )

        assert by_input(got) == by_input(want), prog


_OBJECT_TEXT_DOCS = [
    '{"m":{"z":1,"a":"q"},"xs":[{"m":{"z":1,"a":"q"}},{"m":"xy"},{}]}',
    '{"m":{"b":1},"xs":[{"m":[{"z":2,"b":1}]},{"m":false}]}',
    '{"m":{},"xs":[{"m":[1,{"z":2,"b":1}]}]}',
    '{"m":{"y":2,"c":3},"xs":[{"m":"xq"},{"m":[1,"a",true]},{"m":null}]}',
]


def test_native_keys_and_iterated_objects_as_text_match_python_tier(spark):
    """Text of object-shaped values: ``keys``/``keys_unsorted`` into a
    string slot do not compile (Spark's array cast text is ``[a, z]``,
    jq's ``["a","z"]``); ``auto`` equals ``never`` per input row."""
    df = _indexed(spark, _OBJECT_TEXT_DOCS)
    for prog in ("{o: (.m | keys)}", "{o: (.m | keys_unsorted)}"):
        assert compile_native(prog, ("o:string",)) is None, prog
        assert compile_native(prog, ("o:array<string>",)) is not None, prog
    for prog in ("{o: (.m | keys)}", "{o: (.m | keys_unsorted)}"):
        got = jq_explode(df, "j", prog, "o:string", native="auto")
        want = jq_explode(df, "j", prog, "o:string", native="never")
        assert _rows_by_input([tuple(r) for r in got.select("i", "o").collect()]) == (
            _rows_by_input([tuple(r) for r in want.select("i", "o").collect()])
        ), prog


def test_native_integer_math_keeps_64_bit_values(spark):
    """floor/ceil keep doubles beyond 2^63 (Spark's FLOOR/CEIL return a
    clamped BIGINT), and % truncates its operands toward zero like
    jq's int() in a type that holds them — never a CAST_OVERFLOW."""
    df = _indexed(
        spark,
        [
            '{"w": 1e20, "n": -2.5e19, "k": 1e20}',
            '{"w": 2.5, "n": -7.5, "k": -7.5}',
            '{"w": -2.5, "n": 7.5, "k": 23}',
        ],
    )
    nat, py, sent = _tiers_by_input(
        df,
        "{a: (.w | floor), b: (.n | ceil), c: (.k % 7), d: (.n % 2), e: (.k % 10)}",
        "a:double", "b:double", "c:double", "d:double", "e:int",
    )
    assert sent == 0
    assert nat == py
    assert nat[0] == [(1e20, -2.5e19, 2.0, 0.0, 0)]


# Programs that iterate, with the documents that pinned each behaviour
# when the native tier had explode plans: object values in document key
# order, limit's laziness, keys_unsorted order, number text, duplicate
# keys read last-occurrence-wins.
ITERATE_CASES = [
    ('.items[] | {s: (.t + "#")}', ("s:string",), _STRCAT_DOCS),
    ('.items[] | {s: ("pre" + .t)}', ("s:string",), _STRCAT_DOCS),
    (".arr[]", ("string",), _M2_DOCS),
    (".items[] | {o: .u}", ("o:string",), _M2_DOCS),
    (".items[] | .u", ("string",), _M2_DOCS),
    (".a[] | select(.b * 2 + 1 >= 7) | {b: .b}", ("b:int",), _EXPR_FILTER_DOCS),
    ('.orders[] | select(has("oid")) | {oid: .oid}', ("oid:int",),
     ['{"orders": [{"oid": 1}, {"x": 2}, {}]}', '{"orders": {"b": {"oid": 3}, "a": {"oid": 4}}}']),
    (".orders[] | select(not) | {oid: .oid}", ("oid:int",),
     ['{"orders": [null, {"oid": 5}, 0, {"oid": false}]}', '{"orders": []}']),
    (".items[] | {k: (.m | keys)}", ("k:array<string>",),
     ['{"items": [{"m": {"y": 1, "x": 2}}, {"m": {"q": 0}}]}']),
    (".items[] | {k: (.m | keys_unsorted)}", ("k:array<string>",),
     ['{"items": [{"m": {"zz": 1, "aa": 2}}, {"m": {"q2": 0, "q1": 1}}]}']),
    (".items[] | keys_unsorted", ("array<string>",),
     ['{"items": [{"zz": 1, "aa": 2, "Mm": 3}, {"b": 0, "a": 1}]}']),
    (".items[] | keys", ("array<string>",),
     ['{"items": [{"zz": 1, "aa": 2, "Mm": 3}, {"b": 0, "a": 1}]}']),
    (".m[] | keys_unsorted", ("array<string>",),
     ['{"m": {"first": {"y": 1, "x": 2}, "second": {"q": 0}}}']),
    (".a[].b[] | keys_unsorted", ("array<string>",),
     ['{"a": [{"b": [{"s1": 1, "s0": 2}, {"zz": 1}]}, {"b": [{"m": 3}]}]}']),
    (".a[].b[] | {k: (.c | keys_unsorted)}", ("k:array<string>",),
     ['{"a": [{"b": [{"c": {"w2": 1, "w1": 2}}]}]}']),
    (".items[].m | keys_unsorted", ("array<string>",), ['{"items": [{"m": {"n2": 1, "n1": 2}}]}']),
    (".xs[] | {t: (.v | tostring)}", ("t:string",), [
        '{"xs": [{"v": 1.0}, {"v": "1.0"}, {"v": 7}, {"v": 2.5}]}',
        '{"xs": {"k2": {"v": 100.0}, "k1": {"v": "z"}}}',
        '{"xs": {"k2": {"v": 100}, "k1": {"v": "z"}}}',
    ]),
    (".a[].b[] | {t: (.v | tostring)}", ("t:string",), [
        '{"a": [{"b": [{"v": 5.0}, {"v": "5.0"}]}]}',
        '{"a": [{"b": [{"v": 5}, {"v": "5.0"}]}]}',
    ]),
    ('.xs[] | {o: (.v | ascii_downcase)}', ("o:string",), ['{"xs": [{"v": "x,y"}]}']),
    ('.xs[] | {s: "k-\\(.id):\\(.w)"}', ("s:string",), [
        '{"xs": [{"id": 3, "w": 2.0}, {"id": "a", "w": {"z": 9, "y": 8}}]}',
        '{"xs": [{"id": 3, "w": 2}, {"id": "a", "w": {"z": 9, "y": [8, "x"]}}]}',
    ]),
    (".xs[] | {v: .}", ("v:int",), ['{"xs":[1],"xs":[5,6]}', '{"xs":[9]}']),
    (".xs[] | {v: .}", ("v:string",), ['{"xs":["a"],"xs":["b","c"]}', '{"xs":["d"]}']),
    (".a[] | {v: .}", ("v:int",), ['{"a":{"k":1},"a":{"z":2,"k":3}}', '{"a":{"z":1,"b":2,"z":3}}']),
    (".xs[].ys[] | keys_unsorted", ("array<string>",), ['{"xs":[{"ys":[{"z":1,"b":2,"z":3}]}]}']),
    (".x[] | {v: .}", ("v:double",), _LEXEME_DOCS),
    (".xs[] | {o: (.m // 1)}", ("o:string",), _OBJECT_TEXT_DOCS),
    ('.xs[] | {o: (.m | ltrimstr("x"))}', ("o:string",), _OBJECT_TEXT_DOCS),
    ('.xs[] | {o: (.m | rtrimstr("q"))}', ("o:string",), _OBJECT_TEXT_DOCS),
    (".u[] | {f: .}", ("f:string",), ['{"u": {"a": {"z": 1, "b": 2}, "c": "s"}}']),
]


def test_iterate_programs_take_python_tier(spark):
    """A program that iterates — also under ``limit``/``first`` — does
    not compile natively: ``native="require"`` raises and ``auto``
    gives jq's rows per document, where jq raises too."""
    for prog in ("limit(3; .toks[])", "first(.toks[])", ".kv[]", ".evs[].tags[]"):
        assert compile_native(prog, ("string",)) is None, prog
    _python_tier_only(spark, ITERATE_CASES)
    for prog, decls, doc in [
        ('.xs[] | {o: (.v | ascii_downcase)}', ("o:string",), '{"xs": [{"v": "Qq"}, {"v": 3}]}'),
        (".xs[] | {v: .}", ("v:int",), '{"xs":3}'),
    ]:
        df = spark.createDataFrame([(doc,)], "j string")
        with pytest.raises(Exception, match="jq error"):
            jq_explode(df, "j", prog, *decls).collect()
