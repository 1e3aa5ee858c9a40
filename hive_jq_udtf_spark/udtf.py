"""PySpark adapters for the jq engine (layer C, SURVEY §3).

Three invocation surfaces, mirroring the reference's integration with
its host engine (README.md:107-131):

1. SQL UDTF:  ``SELECT ... FROM t, LATERAL jq(t.json, '.[]',
   'name:string', 'offset:int') tz`` — registered via
   :func:`register`; the static ``analyze`` plays the role of the
   reference's ``initialize`` (JsonQueryUDTF.java:49-71): validates
   constant args (D3), compiles the program once (O2), and fixes the
   output schema at plan time (O3).
2. DataFrame operator: :func:`jq_explode` — Arrow-batched pandas UDF
   returning ``array<struct<...>>`` + ``explode`` (a Generate node
   Catalyst can prune/push through).
3. Pure library: :func:`process_json` — engine-free per-row call, the
   analog of the reference's direct-invocation test path (§3.3).

Error channel (D4/D5/D8, README.md:133-178): corrupt JSON binds
``$error`` = {message, class, input} with a null document; the user's
program decides substitute/skip/abort.  ``error(...)`` aborts the
query (task failure) with the input echoed, like HiveException at
JsonQueryUDTF.java:100-102.
"""

from __future__ import annotations

import json
from typing import Any, Iterator, Optional

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .jqlib import JQError, JQHalt, JQSyntaxError, jq_compile
from .jqlib.evaluator import JQProgram
from .marshal import RowMarshaller
from .schema import SchemaDeclarationError, parse_output_schema


class JsonQueryError(RuntimeError):
    """Hard abort from ``error(...)`` — D8 (JsonQueryUDTF.java:100-102)."""


_QUERY_CACHE: dict = {}


def compile_query(program: str, decls: tuple[str, ...], extended: bool = False):
    """Compile (program, declarations) → (JQProgram, RowMarshaller).

    Cached per (program, decls, extended) — compile-once semantics
    (O2, JsonQueryUDTF.java:53); cache also serves each Python worker
    process once shipped.  extended=True admits the beyond-reference
    decimal/date/timestamp/binary declared types (SURVEY §7 D2).
    """
    key = (program, decls, extended)
    hit = _QUERY_CACHE.get(key)
    if hit is None:
        prog = jq_compile(program)
        schema, single = parse_output_schema(list(decls), extended=extended)
        hit = (prog, RowMarshaller(schema, single))
        if len(_QUERY_CACHE) < 256:
            _QUERY_CACHE[key] = hit
    return hit


# built once: json.loads builds a new decoder per call when given
# any non-default keyword
_DECODER = json.JSONDecoder(strict=False)


def parse_document(json_str: Optional[str]) -> tuple[Any, Optional[dict]]:
    """Parse one JSON cell → (document, $error).

    NULL input → (None, None): still *processed* (identity emits one
    NULL row) — NULL input ≠ zero rows (JsonQueryUDTF.java:80-81,
    testNullInputs).  Corrupt input → (None, {message, class, input})
    (JsonQueryUDTF.java:89-95).  ``strict=False`` mirrors Jackson's
    ALLOW_UNQUOTED_CONTROL_CHARS (JsonQueryUDTF.java:61).
    """
    if json_str is None:
        return None, None
    try:
        if isinstance(json_str, str) and not json_str.startswith("\ufeff"):
            return _DECODER.decode(json_str), None
        # json.loads raises the BOM error and decodes bytes
        return json.loads(json_str, strict=False), None
    except ValueError as ex:
        return None, {
            "message": str(ex),
            "class": type(ex).__name__,
            "input": json_str,
        }


def process_json(
    prog: JQProgram, marshaller: RowMarshaller, json_str: Optional[str]
) -> Iterator[tuple]:
    """Per-row core: parse → bind $error → run jq → marshal 0..N rows
    (the reference's ``process()``, JsonQueryUDTF.java:74-107)."""
    doc, err = parse_document(json_str)
    try:
        for result in prog.iter(doc, vars={"error": err}):
            yield marshaller.marshal(result)
    except JQHalt as ex:
        # halt/halt_error: uncatchable at the jq level (bypasses
        # try/catch/?); the embedded-engine 'process exit' is a hard
        # query abort carrying the exit code
        raise JsonQueryError(
            f"jq halt (exit code {ex.code}): {ex} (input: {json_str!r})"
        ) from None
    except JQError as ex:
        raise JsonQueryError(
            f"jq error: {ex} (input: {json_str!r})"
        ) from None


# ---------------------------------------------------------------------------
# 1. SQL UDTF surface
# ---------------------------------------------------------------------------


def _make_udtf_class(wrap: str | None = None):
    """Build the SQL UDTF class.  ``wrap`` is a macro template with a
    ``{}`` placeholder for the user's program text — the SQL-level
    macro wrappers (``jq_first``/``jq_values``) are pure program
    rewrites, so they share this one implementation (compile cache,
    marshaller, error channel) instead of duplicating the engine."""
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    def rewrite(src: str) -> str:
        return wrap.format(f"({src})") if wrap else src

    class JsonQueryUDTF:
        """``jq(json, 'PROGRAM', 'TYPE' | 'name:type'...)`` — emits
        0..N typed rows per input row."""

        @staticmethod
        def analyze(*args: "AnalyzeArgument") -> "AnalyzeResult":
            if len(args) < 3:
                raise Exception(
                    "jq() takes at least three arguments: jq(JSON, JQ, TYPES...)"
                )
            json_arg, prog_arg, *decl_args = args
            if json_arg.dataType is not None and not isinstance(
                json_arg.dataType, (T.StringType, T.NullType)
            ):
                raise Exception("jq(): JSON argument must be a string column")
            # D3: program + type declarations must be foldable constants
            # (WritableConstantStringObjectInspector analog,
            # JsonQueryUDTF.java:136-143)
            if prog_arg.value is None or not isinstance(prog_arg.value, str):
                raise Exception("jq(): the jq program must be a constant string")
            decls = []
            for i, d in enumerate(decl_args):
                if d.value is None or not isinstance(d.value, str):
                    raise Exception(
                        f"jq(): type declaration #{i + 1} must be a constant string"
                    )
                decls.append(d.value)
            try:
                prog = jq_compile(rewrite(prog_arg.value))  # compile-once, O2
                schema, single = parse_output_schema(decls)
            except (JQSyntaxError, SchemaDeclarationError) as ex:
                raise Exception(f"jq(): {ex}") from None
            return AnalyzeResult(schema=schema)

        def eval(self, json_str, program, *decls):
            prog, marshaller = compile_query(rewrite(program), tuple(decls))
            yield from process_json(prog, marshaller, json_str)

    return JsonQueryUDTF


VERSION = 1


def register(spark: SparkSession, name: str = "jq") -> None:
    """Register the SQL UDTF (versioned names à la ``jq3`` shade
    relocation, pom.xml:101-115, are just extra ``name`` calls)."""
    from pyspark.sql.functions import udtf

    spark.udtf.register(name, udtf(_make_udtf_class()))


def register_versioned(spark: SparkSession, base: str = "jq") -> None:
    """Register both the unversioned name and the version-suffixed
    one (``jq``, ``jq1``) — the reference's side-by-side-versions
    convention (README.md:20-23: CREATE FUNCTION jq3 after shading)
    so queries can pin an engine version during upgrades."""
    register(spark, base)
    register(spark, f"{base}{VERSION}")


def register_macros(spark: SparkSession, base: str = "jq") -> None:
    """SQL macro wrappers over the UDTF — the two most common jq-in-SQL
    idioms (reference README.md:70's nested-program pattern) as named
    table functions, implemented as pure program rewrites:

      jq_first(json, P, T...)   ≡ jq(json, 'first((P))', T...)
        — at most one row: the first output of the stream.
      jq_values(json, P, T...)  ≡ jq(json, '(P) | values', T...)
        — one row per NON-NULL output (jq's ``values`` filter).

    Table functions live in Spark's table-function registry, so these
    names coexist with the scalar ``jq_first`` UDF
    (functions/jq_functions.py) — SELECT-position resolves the scalar,
    FROM/LATERAL-position resolves these.
    """
    from pyspark.sql.functions import udtf

    spark.udtf.register(f"{base}_first", udtf(_make_udtf_class("first{}")))
    spark.udtf.register(f"{base}_values", udtf(_make_udtf_class("{} | values")))


# ---------------------------------------------------------------------------
# 2. DataFrame-level operator (Arrow-batched)
# ---------------------------------------------------------------------------


def jq_array_udf(program: str, *decls: str, extended: bool = False) -> Column:
    """Build an Arrow-batched pandas UDF ``string -> array<struct>``
    for the given program (the array-returning-UDF formulation of
    §3.2; pair with ``explode``/``explode_outer``)."""
    from pyspark.sql.functions import pandas_udf

    schema, single = parse_output_schema(list(decls), extended=extended)
    ret_type = T.ArrayType(schema)
    names = tuple(f.name for f in schema.fields)
    prog_src = program
    decls_t = tuple(decls)
    ext = extended

    def _jq(s: pd.Series) -> pd.Series:
        prog, marshaller = compile_query(prog_src, decls_t, extended=ext)

        def one(js):
            return [
                dict(zip(names, row)) for row in process_json(prog, marshaller, js)
            ]

        return s.map(one)

    return pandas_udf(ret_type)(_jq)


def jq_explode(
    df: DataFrame,
    column: str | Column,
    program: str,
    *decls: str,
    outer: bool = False,
    native: str = "auto",
    min_parallelism: int | None = None,
    extended: bool = False,
) -> DataFrame:
    """LATERAL VIEW jq(...) equivalent: every input column is kept,
    generated columns appear flattened under their declared names
    (README.md:109-131 semantics).

    outer=True keeps input rows that generate zero output rows
    (LATERAL VIEW OUTER), with NULL generated columns.

    native: "auto" compiles simple-path programs to pure Catalyst
    expressions (SURVEY §4.2); "never" forces the Python UDTF tier;
    "require" raises if the program can't compile natively.  Both
    tiers give jq's rows, and both raise where jq raises: a native plan
    carries one Python node, which the rows its expressions would not
    evaluate exactly reach — duplicate-key documents (which jq reads
    last-occurrence-wins), values of a kind a guard rejects (a string
    under ``floor``, a string in a numeric slot), number text read as
    text, and corrupt or NULL cells when jq fails on the null document
    (native.py's module docstring).  Programs that iterate do not
    compile natively, so "auto" runs them on the Python tier.  A
    session with ``spark.sql.variant.allowDuplicateKeys=true`` parses
    duplicate-key rows itself, so the route cannot find them: "auto"
    then takes the Python tier and "require" raises.  Nothing here
    changes a session conf.  Both branches of a native plan evaluate
    ``df``, so a nondeterministic ``df`` or ``column`` (``rand()``,
    ``uuid()``, a nondeterministic UDF) could lose or duplicate rows
    between them: "auto" then takes the Python tier and "require"
    raises.

    min_parallelism: repartition the input up to this many partitions
    BEFORE the (expensive, per-row) Python tier when the scan came in
    with fewer — e.g. a handful of unsplittable single-row-group
    files.  A real multi-file dataset already exceeds it, so this is
    a no-op at scale; never applied to a native plan.
    """
    if native not in ("auto", "never", "require"):
        raise ValueError("native must be auto|never|require")

    def python_tier(rows: DataFrame) -> DataFrame:
        col = F.col(column) if isinstance(column, str) else column
        arr = jq_array_udf(program, *decls, extended=extended)(col)
        return rows.select("*", F.inline_outer(arr) if outer else F.inline(arr))

    if native != "never" and not extended:
        # extended declared types are a Python-tier feature: the native
        # compiler's schema parse rejects them, so auto would fall back
        # anyway — skip the attempt
        from .native import compile_native

        plan = compile_native(program, tuple(decls))
        conf = "spark.sql.variant.allowDuplicateKeys"
        if plan is not None and (
            df.sparkSession.conf.get(conf, "false").lower() == "true"
        ):
            if native == "require":
                raise ValueError(
                    f"jq program {program!r} cannot run natively while "
                    f"{conf}=true: duplicate-key documents would parse "
                    "instead of reaching the Python tier"
                )
            plan = None
        if plan is not None:
            # a Column-typed doc argument is evaluated in each branch too
            probe = df if isinstance(column, str) else df.select(column)
            if not probe._jdf.queryExecution().analyzed().deterministic():
                if native == "require":
                    raise ValueError(
                        f"jq program {program!r} cannot run natively on a "
                        "nondeterministic input: each branch of a native "
                        "plan evaluates it, so rows could be lost or "
                        "duplicated"
                    )
                plan = None
        if plan is not None:
            return plan.apply(df, column, python_tier, outer=outer)
        if native == "require":
            raise ValueError(
                f"jq program not compilable to native expressions: {program!r}"
            )
    if min_parallelism and df.rdd.getNumPartitions() < min_parallelism:
        df = df.repartition(min_parallelism)
    return python_tier(df)


# ---------------------------------------------------------------------------
# 3. Engine-free convenience
# ---------------------------------------------------------------------------


def run_jq(
    program: str, json_str: Optional[str], *decls: str, extended: bool = False
) -> list[tuple]:
    """Run one cell through the full pipeline without Spark — the
    reference's direct-invocation test path (JsonQueryUDTFTest.java:
    22-33)."""
    prog, marshaller = compile_query(program, tuple(decls), extended=extended)
    return list(process_json(prog, marshaller, json_str))
