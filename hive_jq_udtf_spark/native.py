"""jq → native Catalyst expression compiler (SURVEY §4.2 tier 2).

A large fraction of real jq programs are "simple paths" that yield one
value per document: ``.a.b``, ``.a[0]``, ``{x: .p, y: .q}``,
``select(.k == lit)`` pipelines of J1–J7.  These compile to pure
Spark expressions (``get_json_object`` / variant reads + ``filter``)
and skip the Python worker for the rows they evaluate.

``compile_native(program, decls)`` returns a plan or None; the
`jq_explode(..., native="auto")` entry point in udtf.py uses it
transparently and falls back to the Python UDTF for general
programs.  A program that iterates (``.[]``/``.path[]``, also under
``limit``/``first``) yields 0..N rows per document, which is what the
Python tier does by running jq itself; it does not compile here, and
measured faster on the Python tier on every suite query that had one.

One semantics on both tiers: a native plan evaluates a row only where
its Catalyst expressions give exactly jq's result, and sends every
other row to the exact Python tier (`NativePlan.apply`), which raises
where jq raises and marshals leniently where the reference does.  Three
mechanisms decide which rows those are:

1. guards (`_Guards`).  Each builder takes only the JSON kinds it
   evaluates like jq: a string under ``ascii_*``, ``gsub``, ``test``,
   ``split`` or a string slice; a number under ``floor``, ``ceil``,
   ``sqrt`` (not negative) and arithmetic; no boolean under
   ``length``; an object or array under ``keys`` and ``has``; an array
   under ``add``/``sort``/``join``/``map``; null or an object (array)
   at each field (index) step.  A declared numeric slot takes numbers
   that fit it, a boolean slot booleans, an array slot arrays
   (`_slot_bad`).  A row holding any other value at a guarded path —
   also one a filter would drop — takes the Python tier;
2. number text.  This tier prints no number itself.  Strings,
   booleans, null and 64-bit integers read as text (a string-typed
   slot, ``tostring``/``tojson``/``@text``/``@json``/``@base64``,
   interpolation, ``join``, the ``ltrimstr``-``rtrimstr``
   pass-through) keep the raw text view, which already equals jq's
   text.  A value whose ``schema_of_variant`` names DECIMAL, DOUBLE or
   FLOAT (`_number_text`) is guarded like a wrong kind.  Computed
   numbers into a string slot do not compile (`_validate_new_specs`),
   and a numeric literal into a string slot is rendered at build time
   by the marshaller's own jq text (`_lit_col`);
3. the document.  Well-formed JSON the variant parser rejects — under
   Spark's default ``spark.sql.variant.allowDuplicateKeys=false``
   exactly the documents with a duplicate key at any depth — takes the
   Python tier (`_python_rows`).  Corrupt and NULL cells bind jq's null
   document: compiling runs the program once on null with jqlib, and
   those cells emit its rows, or take the Python tier when jq fails on
   null (`_null_doc_rows`).

Shapes that no per-row guard covers do not compile
(`_validate_new_specs`), so ``auto`` takes the Python tier.
Transcendental math fns stay Python-tier because JVM libm is not
correctly rounded (see _NUM_FNS note).  On every row it evaluates, the
tier agrees with jq bit for bit — pinned by
tests/test_native_differential.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .jqlib.parser import AST, parse
from .marshal import _as_string
from .schema import parse_output_schema

# ---------------------------------------------------------------------------
# AST analysis → IR
# ---------------------------------------------------------------------------

Path = tuple  # of str (field) / int (array index)

# projection-spec marker tags; a PATH whose first field collides with
# one of these would be misread as a spec, so analysis falls back to
# the Python tier for such (rare) field names
_SPEC_KINDS = {
    "lit",
    "expr",
    "fnchain",
    "alt",
    "length",
    "keyssorted",
    "keysunsorted",
    "arrayfn",
    "slicearr",
    "strpred",
    "capture",
    "ifelse",
    "splitidx",
    "splitarr",
    "reduce",
    "strcat",
    "strinterp",
}


@dataclass
class Filter:
    lhs: Path
    op: str  # == != < <= > >= or "truthy"/"not_truthy"/"has"
    lit: Any
    combine: str = "and"  # reserved
    # when set, the condition LHS is a compiled scalar expression
    # (arithmetic over paths) instead of a bare path; ``lhs`` then
    # holds only the base-path prefix the expression is relative to
    lhs_expr: Any = None
    # r11: when "length", the comparison LHS is jq `length` of the
    # path's value (`select(.tags | length > 1)`) — evaluated via
    # _variant_length over the exact-typed variant
    fn: Optional[str] = None


@dataclass
class OrGroup:
    """Disjunction of simple filters inside one select() — members
    OR together, the group ANDs with its siblings.  (OR of ANDs
    falls back to the Python tier.)"""

    filters: list  # of Filter


@dataclass
class NativeIR:
    filters: list[Filter] = field(default_factory=list)
    # projection: None = identity; {name: Path|("lit", v)} = object construct
    project: Optional[dict[str, Any]] = None
    single_path: Optional[Path] = None  # trailing bare path
    # trailing bare ``keys`` / ``keys_unsorted`` / ``length`` call
    # applied to single_path's value; None = no trailing call
    single_call: Optional[str] = None
    # r11: this project was SYNTHESIZED by wrapping a bare
    # single-TYPE program's tail as a one-field object (jq1-style
    # ``.a | tostring`` → ``{col1: (.a | tostring)}``) — exempt from
    # the "single-TYPE form with an object construct" rejection,
    # which targets USER-written constructs only
    wrapped_single: bool = False


def _flatten(ast: AST, out: list) -> bool:
    """Flatten pipe/postfix chains into a stage list; False = reject."""
    tag = ast[0]
    if tag == "pipe":
        return _flatten(ast[1], out) and _flatten(ast[2], out)
    if tag == "identity":
        return True
    if tag == "field":
        out.append(("step", ast[1]))
        return True
    if tag == "index_on":
        if not _flatten(ast[1], out):
            return False
        idx = ast[2]
        if idx[0] == "literal" and isinstance(idx[1], (int, str)) and not isinstance(idx[1], bool):
            out.append(("step", idx[1]))
            return True
        return False
    if tag == "call" and ast[1] == "select" and len(ast[2]) == 1:
        f = _parse_filters(ast[2][0])
        if f is None:
            return False
        out.append(("select", f))
        return True
    if tag == "call" and ast[1] == "first" and len(ast[2]) == 0:
        # jq: `first` == `.[0]`
        out.append(("step", 0))
        return True
    if tag == "object":
        proj = {}
        for k_ast, v_ast in ast[1]:
            if k_ast[0] != "literal" or not isinstance(k_ast[1], str):
                return False
            p = _as_path(v_ast)
            if p is not None:
                if p and isinstance(p[0], str) and p[0] in _SPEC_KINDS:
                    return False  # field name collides with a spec tag
                proj[k_ast[1]] = p
            elif v_ast[0] == "literal":
                proj[k_ast[1]] = ("lit", v_ast[1])
            elif v_ast[0] == "neg" and v_ast[1][0] == "literal":
                proj[k_ast[1]] = ("lit", -v_ast[1][1])
            elif _expr_ok(v_ast):
                proj[k_ast[1]] = ("expr", v_ast)
            elif (fc := _as_fnchain(v_ast)) is not None:
                proj[k_ast[1]] = ("fnchain", fc[0], fc[1])
            elif (lp := _as_length_chain(v_ast)) is not None:
                proj[k_ast[1]] = ("length", lp)
            elif (kp := _as_keys_chain(v_ast)) is not None:
                proj[k_ast[1]] = (
                    "keyssorted" if kp[1] else "keysunsorted", kp[0]
                )
            elif v_ast[0] == "alt" and _as_path(v_ast[1]) is not None and (
                (d := _scalar_literal(v_ast[2])) is not None
            ):
                proj[k_ast[1]] = ("alt", _as_path(v_ast[1]), d[0])
            elif (sc := _as_strcat(v_ast)) is not None:
                proj[k_ast[1]] = ("strcat", tuple(sc))
            elif (si2 := _as_strinterp(v_ast)) is not None:
                proj[k_ast[1]] = ("strinterp", tuple(si2))
            elif (sp := _as_strpred(v_ast)) is not None:
                proj[k_ast[1]] = ("strpred",) + sp
            elif (cp := _as_capture(v_ast)) is not None:
                proj[k_ast[1]] = ("capture",) + cp
            elif (af := _as_arrayfn(v_ast)) is not None:
                proj[k_ast[1]] = ("arrayfn",) + af
            elif (sl := _as_slice(v_ast)) is not None:
                proj[k_ast[1]] = ("slicearr",) + sl
            elif (si := _as_split_index(v_ast)) is not None:
                proj[k_ast[1]] = ("splitidx",) + si
            elif (sa := _as_split_full(v_ast)) is not None:
                proj[k_ast[1]] = ("splitarr",) + sa
            elif (ie := _as_ifelse(v_ast)) is not None:
                proj[k_ast[1]] = ("ifelse",) + ie
            elif (rd := _as_reduce(v_ast)) is not None:
                proj[k_ast[1]] = ("reduce",) + rd
            else:
                return False
        out.append(("project", proj))
        return True
    return False


# Scalar-expression sub-language compilable to Catalyst: numeric
# arithmetic and path-vs-literal comparisons over paths/literals.
_NUM_OPS = {"+", "-", "*", "/", "%"}
# jq's total order puts null below everything, so null OP number is:
_NULL_CMP = {"<": True, "<=": True, ">": False, ">=": False, "==": False, "!=": True}


# Whitelisted scalar function chains compilable to Catalyst, exact on
# the kinds `_Guards.fnchain` admits.
_STR_FNS = {
    "ascii_downcase": 0,
    "ascii_upcase": 0,
    "ltrimstr": 1,
    "rtrimstr": 1,
    "tostring": 0,
    "tojson": 0,
    "gsub": 2,
    # r14 growth (VERDICT r13 #4): FIRST-occurrence replace — Spark
    # has no replaceFirst builtin, so the compiled form splices
    # around the first match (regexp_instr + regexp_extract)
    "sub": 2,
}
# NOTE deliberately excludes the transcendentals (exp/log/log2/log10/
# pow): JVM Math.* is only 1-ulp-accurate while the Python tier's
# libm is correctly rounded — measured 1-ulp drift on log2 — and the
# native tier holds a BIT-EQUALITY contract with the Python tier on
# clean data (tests/test_native.py differentials).  floor/ceil are
# exact integer ops and sqrt is IEEE-correctly-rounded on both sides,
# so those compile natively.
_NUM_FNS = {
    "tonumber": 0,
    "floor": 0,
    "ceil": 0,
    "sqrt": 0,
    "fabs": 0,
}

# string predicates compilable inside select(): jq fn name → handled
# in _string_pred_col (startswith/endswith literal; test → rlike)
_STR_PREDS = {"startswith", "endswith", "test", "contains"}


def _regex_portable(pat: str) -> bool:
    """True when the pattern means the same under Python re (the jq
    tier's engine) and Java regex (Catalyst rlike).  Conservative:
    rejects inline groups/flags `(?...)`, unicode properties, and any
    escape outside the shared core — those fall back to the Python
    tier rather than silently diverging (SURVEY J22 dialect note)."""
    if "(?" in pat:
        return False
    import re as _re

    for m in _re.finditer(r"\\(.)", pat):
        ch = m.group(1)
        if ch.isalnum() and ch not in "dDwWsSbBnrtf":
            return False
    return True


def _capture_names(pat: str):
    """Named-group inventory (in appearance order) for a pattern whose
    ``capture`` compiles to per-group ``regexp_extract`` — else None.

    Compilable means the Java/Python semantics are identical AND every
    named group PARTICIPATES in any overall match (jq renders a
    non-participating group as null; regexp_extract renders it '' —
    a value divergence that no guard sees).  Enforced
    conservatively: every '(' is escaped, inside a character class, a
    named group ``(?<name>``, or non-capturing ``(?:``; no '|' outside
    character classes; no zero-admitting quantifier (?, *, {0...})
    after the ')' of any group that contains a named group; escapes
    restricted to the shared re/Java core (like _regex_portable);
    names unique (jq object keys) and identifier-shaped (both regex
    dialects' named-group grammar)."""
    import re as _re

    for m in _re.finditer(r"\\(.)", pat):
        ch = m.group(1)
        if ch.isalnum() and ch not in "dDwWsSbBnrtf":
            return None
    names: list[str] = []
    stack: list[bool] = []  # per open group: contains a named group?
    i, n = 0, len(pat)
    in_class = False
    while i < n:
        ch = pat[i]
        if ch == "\\":
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            i += 1
            continue
        if ch == "[":
            in_class = True
            i += 1
            continue
        if ch == "|":
            return None
        if ch == "(":
            m = _re.match(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", pat[i:])
            if m:
                names.append(m.group(1))
                stack.append(True)
                i += m.end()
                continue
            if pat.startswith("(?:", i):
                stack.append(False)
                i += 3
                continue
            return None
        if ch == ")":
            if not stack:
                return None
            has_named = stack.pop()
            if has_named and stack:
                stack[-1] = True
            rest = pat[i + 1 :]
            if has_named and (
                rest[:1] in ("?", "*") or _re.match(r"\{0", rest)
            ):
                return None
            i += 1
            continue
        i += 1
    if in_class or stack or not names or len(set(names)) != len(names):
        return None
    return tuple(names)


def _as_length_chain(ast: AST) -> Optional[Path]:
    """``.path | length`` (or bare ``length``) → the path, else None."""
    nodes: list = []
    _pipe_list(ast, nodes)
    last = nodes[-1]
    if last[0] != "call" or last[1] != "length" or last[2]:
        return None
    path: tuple = ()
    for n in nodes[:-1]:
        p = _as_path(n)
        if p is None:
            return None
        path = path + p
    return path


def _as_keys_chain(ast: AST):
    """``.path | keys`` / ``.path | keys_unsorted`` (or bare forms) →
    (path, sorted?) else None.  ``keys`` sorts by codepoint — exactly
    the order variant objects store their fields in (`_variant_keys`);
    ``keys_unsorted`` is document order, which variants LOSE — it
    reads `json_object_keys` over the raw text instead."""
    nodes: list = []
    _pipe_list(ast, nodes)
    last = nodes[-1]
    if last[0] != "call" or last[1] not in ("keys", "keys_unsorted") or last[2]:
        return None
    path: tuple = ()
    for n in nodes[:-1]:
        p = _as_path(n)
        if p is None:
            return None
        path = path + p
    return path, last[1] == "keys"


def _scalar_literal(ast: AST):
    """(value,) for a (possibly negated) non-bool scalar literal,
    else None — a 1-tuple so falsy values like 0/"" still signal
    presence."""
    if ast[0] == "literal" and not isinstance(ast[1], bool) and isinstance(
        ast[1], (int, float, str)
    ):
        return (ast[1],)
    if ast[0] == "neg" and ast[1][0] == "literal" and isinstance(
        ast[1][1], (int, float)
    ) and not isinstance(ast[1][1], bool):
        return (-ast[1][1],)
    return None


def _pipe_list(ast: AST, acc: list) -> None:
    if ast[0] == "pipe":
        _pipe_list(ast[1], acc)
        _pipe_list(ast[2], acc)
    else:
        acc.append(ast)


def _fn_info(node: AST):
    """(name, [literal args]) for a whitelisted call node, else None."""
    if node[0] != "call":
        return None
    name, args = node[1], node[2]
    arity = _STR_FNS.get(name, _NUM_FNS.get(name))
    if name == "type":
        arity = 0  # head-only; _as_fnchain rejects mid-chain type
    if arity is None or len(args) != arity:
        return None
    lits = []
    for a in args:
        if a[0] != "literal" or not isinstance(a[1], str):
            return None
        lits.append(a[1])
    if name in ("gsub", "sub") and not _regex_portable(lits[0]):
        # the pattern must mean the same under re and Java regex
        return None
    return (name, lits)


def _as_fnchain(ast: AST):
    """path + trailing whitelisted-fn suffix → (path, [(name, args)]),
    else None.  Handles both pipe nestings."""
    nodes: list = []
    _pipe_list(ast, nodes)
    fns = []
    while nodes:
        info = _fn_info(nodes[-1])
        if info is None:
            break
        fns.insert(0, info)
        nodes.pop()
    if not fns:
        return None
    # `type` reads the exact-typed variant of the PATH value — only
    # meaningful as the chain head (mid-chain the running value's
    # jq type is not recoverable from its string view)
    if any(f[0] == "type" for f in fns[1:]):
        return None
    path: tuple = ()
    for n in nodes:
        p = _as_path(n)
        if p is None:
            return None
        path = path + p
    return (path, fns)


def _as_strcat(ast: AST):
    """Linear jq ``+`` tree over STRING literals and simple paths
    (at least one of each) → part list [("lit", s) | ("path", p)],
    else None.  The string literal anchors the chain's type: jq then
    either concatenates (string operands), passes null as the
    identity, or ABORTS (any other operand type) — a row the guards
    send to the Python tier."""
    parts: list = []

    def walk(n: AST) -> bool:
        if n[0] == "binop" and n[1] == "+":
            return walk(n[2]) and walk(n[3])
        if n[0] == "literal" and isinstance(n[1], str):
            parts.append(("lit", n[1]))
            return True
        p = _as_path(n)
        if p is not None and not (
            p and isinstance(p[0], str) and p[0] in _SPEC_KINDS
        ):
            parts.append(("path", p))
            return True
        return False

    if not walk(ast):
        return None
    if not any(k == "lit" for k, _ in parts):
        return None
    if not any(k == "path" for k, _ in parts):
        return None
    return parts


def _as_strinterp(ast: AST):
    """jq string INTERPOLATION ``"a\\(.p)b"`` with simple-path
    interpolants → part list [("lit", s) | ("path", p) |
    ("pathjson", p)], else None.  Plain interpolation applies
    ``tostring`` to every value (any type, never errors;
    null/missing → "null"), which is exactly the number-normalized
    raw-text view ``_tostring_view`` compiles; ``@text`` is defined
    as tostring so it compiles to the SAME parts (r10).  ``@json``
    marks interpolants "pathjson" — the tojson view `_tojson_view`
    (strings quoted+escaped, numbers canonical); ``@base64`` marks
    them "pathb64" — utf-8 base64 of the tostring view (`_b64_view`).
    Other @formats (@csv/@html/...) stay on the Python tier."""
    if ast[0] != "string" or ast[2] not in (None, "@text", "@json", "@base64"):
        return None
    pkind = {"@json": "pathjson", "@base64": "pathb64"}.get(ast[2], "path")
    parts: list = []
    for p in ast[1]:
        if isinstance(p, str):
            parts.append(("lit", p))
        else:
            pp = _as_path(p)
            if pp is None or (
                pp and isinstance(pp[0], str) and pp[0] in _SPEC_KINDS
            ):
                return None
            parts.append((pkind, pp))
    if not any(k != "lit" for k, _ in parts):
        return None
    return parts


def _strcat_col(parts, str_of) -> Column:
    """Compile a strcat part list given ``str_of(path) -> string
    Column``: null/missing parts are jq's ``+`` identity ''."""
    return F.concat(
        *[F.lit(val) if kind == "lit" else F.coalesce(str_of(val), F.lit("")) for kind, val in parts]
    )


def _integral(d: Column, fn) -> Column:
    """``floor``/``ceil`` of a double that stays a double: Spark's
    FLOOR/CEIL return BIGINT and clamp at ±2^63, but a double with
    |x| >= 2^52 is already integral (NaN and ±inf pass through too)."""
    return F.when(F.abs(d) < F.lit(2.0**52), fn(d).cast("double")).otherwise(d)


def _apply_fnchain(c: Column, fns, json_text: bool = False) -> Column:
    """Apply a whitelisted fn chain to a STRING-typed Column (the
    get_json_object / from_json string view of the value).  A number
    fn is never followed by a string fn here (`_validate_new_specs`).
    ``json_text``: ``c`` is the JSON text of a non-string value that a
    leading ltrimstr/rtrimstr passed through, which ``tojson`` prints
    as is; otherwise ``tojson`` quotes a string."""
    import string as _string

    for name, args in fns:
        if name == "ascii_downcase":
            # jq's ascii_* fold ONLY A-Z — translate, not lower()
            # (lower() would also fold unicode, unlike jq)
            c = F.translate(c, _string.ascii_uppercase, _string.ascii_lowercase)
        elif name == "ascii_upcase":
            c = F.translate(c, _string.ascii_lowercase, _string.ascii_uppercase)
        elif name == "ltrimstr":
            pre = args[0]
            c = F.when(c.startswith(pre), F.substring(c, len(pre) + 1, 2**31 - 1)).otherwise(c)
        elif name == "rtrimstr":
            suf = args[0]
            c = F.when(
                c.endswith(suf), c.substr(F.lit(1), F.length(c) - len(suf))
            ).otherwise(c)
        elif name == "gsub":
            pat, repl = args
            # literal replacement: escape Java's $-group refs and
            # backslashes so the text is inserted verbatim (jq's
            # \(...)-interpolating replacements never reach here —
            # they aren't string literals)
            esc = repl.replace("\\", "\\\\").replace("$", "\\$")
            c = F.regexp_replace(c, pat, esc)
        elif name == "sub":
            # r14 growth (VERDICT r13 #4): replace the FIRST match
            # only.  regexp_instr finds its 1-based start,
            # regexp_extract(…, 0) its text; splice the literal
            # replacement between the surrounding substrings (no
            # regexp_replace, so no $/backslash escaping needed).
            # No match (idx = 0) keeps the input, like jq; an empty
            # match at position 1 prepends, like jq sub("";"x").
            pat, repl = args
            idx = F.regexp_instr(c, F.lit(pat))
            m = F.regexp_extract(c, pat, 0)
            spliced = F.concat(
                c.substr(F.lit(1), idx - F.lit(1)),
                F.lit(repl),
                c.substr(idx + F.length(m), F.length(c) + F.lit(1)),
            )
            c = F.when(idx > 0, spliced).otherwise(c)
        elif name == "tostring":
            # the string view of a JSON value IS jq's tostring (both
            # get_json_object and from_json string fields re-serialize
            # compact JSON; plain strings appear as their content);
            # only null needs mapping: jq tostring(null) = "null"
            c = F.coalesce(c, F.lit("null"))
        elif name == "tojson":
            # NON-leading tojson (leading is special-cased to the
            # variant-gated _tojson_view)
            c = _tostring_view(c) if json_text else _json_quote(c)
        elif name == "tonumber":
            c = c.try_cast("double")
        elif name == "floor":
            c = _integral(c.try_cast("double"), F.floor)
        elif name == "ceil":
            c = _integral(c.try_cast("double"), F.ceil)
        elif name == "sqrt":
            c = F.sqrt(c.try_cast("double"))
        elif name == "fabs":
            c = F.abs(c.try_cast("double"))
        json_text = json_text and name in ("ltrimstr", "rtrimstr")
    return c


# array functions compilable in projections
_ARRAY_FNS = {"add", "max", "min", "first", "last", "reverse", "sort", "unique", "join", "map"}
# string predicates compilable as PROJECTED booleans
_PROJ_STR_PREDS = {"test", "contains", "startswith", "endswith"}


def _path_prefix(nodes: list) -> Optional[Path]:
    path: tuple = ()
    for n in nodes:
        p = _as_path(n)
        if p is None:
            return None
        path = path + p
    return path


def _as_strpred(ast: AST):
    """``.path | test("re")`` (or contains/startswith/endswith) as a
    projected boolean → (path, name, literal), else None."""
    nodes: list = []
    _pipe_list(ast, nodes)
    last = nodes[-1]
    if last[0] != "call" or last[1] not in _PROJ_STR_PREDS:
        return None
    args = last[2]
    if len(args) != 1 or args[0][0] != "literal" or not isinstance(args[0][1], str):
        return None
    if last[1] == "test" and not _regex_portable(args[0][1]):
        return None
    path = _path_prefix(nodes[:-1])
    if path is None:
        return None
    return (path, last[1], args[0][1])


def _as_capture(ast: AST):
    """``.path | capture("(?<x>...)-(?<y>...)")`` as a projected
    OBJECT of named groups → (path, pattern, names), else None (r14
    growth, VERDICT r13 #4).  The pattern gate (`_capture_names`)
    guarantees every named group participates in any match, so each
    declared struct field is one ``regexp_extract`` by group index."""
    nodes: list = []
    _pipe_list(ast, nodes)
    last = nodes[-1]
    if last[0] != "call" or last[1] != "capture":
        return None
    args = last[2]
    if len(args) != 1 or args[0][0] != "literal" or not isinstance(
        args[0][1], str
    ):
        return None
    names = _capture_names(args[0][1])
    if names is None:
        return None
    path = _path_prefix(nodes[:-1])
    if path is None:
        return None
    return (path, args[0][1], names)


def _as_slice(ast: AST):
    """``.path[lo:hi]`` as a projection value → (path, lo, hi) with
    lo/hi int|None (r13 growth, VERDICT r12 #5 — formerly rejected
    because jq's slice also applies to STRING values).  The compiled
    column (`_slice_col`) gates on the EXACT-TYPED variant so each
    declared shape honors only its own type: ARRAY values slice under
    an array decl, STRING values substring (by codepoints) under a
    string decl; the guards route the other kinds."""
    if ast[0] != "slice_on":
        return None
    base = _as_path(ast[1])
    if base is None or (
        base and isinstance(base[0], str) and base[0] in _SPEC_KINDS
    ):
        return None

    def lit_idx(n):
        if n is None:
            return None, True
        if (
            n[0] == "literal"
            and isinstance(n[1], int)
            and not isinstance(n[1], bool)
        ):
            return n[1], True
        if (
            n[0] == "neg"
            and n[1][0] == "literal"
            and isinstance(n[1][1], int)
            and not isinstance(n[1][1], bool)
        ):
            return -n[1][1], True
        return None, False

    lo, ok_lo = lit_idx(ast[2])
    hi, ok_hi = lit_idx(ast[3])
    if not (ok_lo and ok_hi):
        return None
    return (base, lo, hi)


def _as_arrayfn(ast: AST):
    """``.path | add/max/min/first/last/reverse/sort/unique/join/map``
    → (path, fn, args), else None."""
    nodes: list = []
    _pipe_list(ast, nodes)
    last = nodes[-1]
    if last[0] != "call" or last[1] not in _ARRAY_FNS:
        return None
    name, args = last[1], last[2]
    path = _path_prefix(nodes[:-1])
    if path is None:
        return None
    if name == "join":
        if len(args) != 1 or args[0][0] != "literal" or not isinstance(args[0][1], str):
            return None
        return (path, "join", (args[0][1],))
    if name == "map":
        if len(args) != 1:
            return None
        mp = _as_path(args[0])
        if not mp or not all(isinstance(s, str) for s in mp):
            return None
        return (path, "map", (mp,))
    if args:
        return None
    return (path, name, ())


def _as_reduce(ast: AST):
    """``reduce .path[] as $v (INIT; UPDATE)`` with a numeric INIT
    and an arithmetic UPDATE over ``.`` (the accumulator), ``$v`` and
    numeric literals (+ − * /) → (path, init, update_ast, varname),
    else None.  Compiles to a Catalyst ``aggregate()`` fold over the
    once-parsed array — custom reductions (sum of squares, weighted
    folds) stay JVM-side, generalizing the fixed ``add`` arrayfn.

    The guards route an array holding anything but numbers; an update
    that divides by a value does not compile."""
    if ast[0] != "reduce":
        return None
    src, pat, init, upd = ast[1], ast[2], ast[3], ast[4]
    if pat[0] != "pvar" or src[0] != "iterate_on":
        return None
    path = _as_path(src[1])
    if not path or not all(isinstance(s, str) for s in path):
        return None
    if path[0] in _SPEC_KINDS:
        return None
    d = _scalar_literal(init)
    if d is None or not isinstance(d[0], (int, float)) or isinstance(d[0], bool):
        return None
    if not _reduce_update_ok(upd, pat[1]):
        return None
    return (path, d[0], upd, pat[1])


def _reduce_update_ok(ast: AST, var: str) -> bool:
    tag = ast[0]
    if tag == "identity":
        return True
    if tag == "var":
        return ast[1] == var
    if tag == "literal":
        return isinstance(ast[1], (int, float)) and not isinstance(ast[1], bool)
    if tag == "neg":
        return _reduce_update_ok(ast[1], var)
    if tag == "binop" and ast[1] in ("+", "-", "*", "/"):
        return _reduce_update_ok(ast[2], var) and _reduce_update_ok(ast[3], var)
    return False


def _reduce_col(arr: Column, init, upd: AST) -> Column:
    """The fold over a double array Column."""

    def build(a: AST, acc: Column, x: Column) -> Column:
        tag = a[0]
        if tag == "identity":
            return acc
        if tag == "var":
            return x
        if tag == "literal":
            return F.lit(float(a[1]))
        if tag == "neg":
            return -build(a[1], acc, x)
        op, l, r = a[1], build(a[2], acc, x), build(a[3], acc, x)
        if op == "+":
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        return l / r

    return F.aggregate(
        arr, F.lit(float(init)), lambda acc, x: build(upd, acc, x)
    )


def _as_split_index(ast: AST):
    """``.path | split("sep")[i]`` → (path, sep, i), else None.  jq's
    split/1 is a LITERAL separator (the regex form is split/2)."""
    nodes: list = []
    _pipe_list(ast, nodes)
    last = nodes[-1]
    if last[0] != "index_on":
        return None
    call, idx = last[1], last[2]
    if call[0] != "call" or call[1] != "split" or len(call[2]) != 1:
        return None
    sep = call[2][0]
    if sep[0] != "literal" or not isinstance(sep[1], str) or not sep[1]:
        return None
    if idx[0] != "literal" or not isinstance(idx[1], int) or isinstance(idx[1], bool):
        return None
    if idx[1] < 0:
        return None
    path = _path_prefix(nodes[:-1])
    if path is None:
        return None
    return (path, sep[1], idx[1])


def _as_split_full(ast: AST):
    """``.path | split("sep")`` (no index) → (path, sep), else None —
    r12 growth: the full split array in a projection (``splitarr``
    spec; the indexed form is ``splitidx`` above).  jq's split/1 is a
    LITERAL separator (the regex form is split/2)."""
    nodes: list = []
    _pipe_list(ast, nodes)
    last = nodes[-1]
    if last[0] != "call" or last[1] != "split" or len(last[2]) != 1:
        return None
    sep = last[2][0]
    if sep[0] != "literal" or not isinstance(sep[1], str) or not sep[1]:
        return None
    path = _path_prefix(nodes[:-1])
    if path is None:
        return None
    return (path, sep[1])


def _as_ifelse(ast: AST):
    """``if COND then V else W end`` with a select-compilable COND and
    literal/path branches → (filters, then_spec, else_spec)."""
    if ast[0] != "if" or len(ast[1]) != 1 or ast[2] is None:
        return None
    cond, then_ast = ast[1][0]
    filters = _parse_filters(cond)
    if filters is None:
        return None

    def branch(b: AST):
        if b[0] == "literal" and isinstance(b[1], (int, float, str, bool)):
            return ("lit", b[1])
        if (d := _scalar_literal(b)) is not None:
            return ("lit", d[0])
        p = _as_path(b)
        if p is not None:
            return ("path", p)
        return None

    t = branch(then_ast)
    e = branch(ast[2])
    if t is None or e is None:
        return None
    return (filters, t, e)


def _proves_num(ast: AST) -> bool:
    """True when this subtree — IF jq evaluates it without error —
    is a NUMBER.  jq's arithmetic is polymorphic (jqlib
    evaluator.py's binop table): ``+`` also concatenates
    strings/arrays and merges objects, ``-`` also subtracts arrays,
    ``*`` also repeats strings and merges objects, ``/`` also splits
    strings.  Per-op proof rules:

    - numeric literal / ``neg`` / ``%`` prove numbers outright
      (negation and ``%`` have no non-number overload in jq);
    - ``+ - /``: ONE proven side suffices — every non-number
      overload of these pairs two non-numeric operands, so a proven
      numeric side forces number-or-error (the guards route the
      error rows);
    - ``*``: BOTH sides must be proven, because string repetition
      ``"ab" * 3`` pairs a string with a NUMBER — a numeric literal
      operand proves nothing (r10 fix: the old rule treated any
      ``- * /`` as an anchor, so ``.a + .b * 2`` with string ``.b``
      compiled to double arithmetic and yielded NULL where jq
      returns ``"xyy"``).

    Unproven arithmetic falls back to the Python tier (string-literal
    ``+`` chains compile via the strcat spec instead)."""
    tag = ast[0]
    if tag == "literal":
        return isinstance(ast[1], (int, float)) and not isinstance(ast[1], bool)
    if tag == "neg":
        return True
    if tag == "binop":
        op, l, r = ast[1], ast[2], ast[3]
        if op == "%":
            return True
        if op == "*":
            return _proves_num(l) and _proves_num(r)
        if op in ("+", "-", "/"):
            return _proves_num(l) or _proves_num(r)
    return False


def _expr_kind(ast: AST, in_arith: bool = False) -> Optional[str]:
    """'num' | 'bool' for a compilable expression, None = not
    compilable.  Arithmetic and neg require NUMERIC operands — a
    comparison used as an arithmetic operand (legal jq: true+1
    errors, (.k>1)+1 errors too — but booleans would type-mismatch in
    Catalyst) must reject so auto mode falls back to Python.
    ``in_arith`` marks nodes inside an arithmetic chain whose MAXIMAL
    root already passed the `_proves_num` check (checked once per
    chain: inner unproven subtrees of a proven root can only differ
    on rows where jq errors, which the guards route)."""
    tag = ast[0]
    if tag == "literal":
        ok = isinstance(ast[1], (int, float)) and not isinstance(ast[1], bool)
        return "num" if ok else None
    if tag == "neg":
        return "num" if _expr_kind(ast[1]) == "num" else None
    if _as_path(ast) is not None:
        return "num"  # read as double
    if tag == "binop":
        op, l, r = ast[1], ast[2], ast[3]
        if op in _NUM_OPS:
            if not in_arith and not _proves_num(ast):
                return None  # polymorphic jq arithmetic without proof
            ok = (
                _expr_kind(l, True) == "num"
                and _expr_kind(r, True) == "num"
            )
            return "num" if ok else None
        if op in _CMP_OPS:
            # path-vs-NUMERIC-literal only (either side): the path is
            # read as double, so string/bool literals stay in Python
            def num_lit(a):
                return a[0] == "literal" and isinstance(a[1], (int, float)) and not isinstance(a[1], bool)

            ok = (
                _as_path(l) is not None
                and num_lit(r)
                or _as_path(r) is not None
                and num_lit(l)
            )
            return "bool" if ok else None
    return None


def _expr_ok(ast: AST) -> bool:
    return _expr_kind(ast) is not None


def _compile_expr(ast: AST, num_path_col) -> Column:
    """Expression AST → Column.  ``num_path_col(path)`` must return
    the path's value as a double Column (NULL when missing).

    jq semantics preserved: ``+`` treats null as identity (null+x=x,
    null+null=null); comparisons use jq's total order for null vs
    literal.  The guards route every row where jq errors: a null or
    non-number operand of ``- * / %``, a zero divisor."""
    tag = ast[0]
    if tag == "literal":
        return F.lit(ast[1])
    if tag == "neg":
        return -_compile_expr(ast[1], num_path_col)
    p = _as_path(ast)
    if p is not None:
        return num_path_col(p)
    op, l, r = ast[1], ast[2], ast[3]
    if op in _CMP_OPS:
        if _as_path(l) is not None and r[0] == "literal":
            path, lit, cop = _as_path(l), r[1], op
        else:
            flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            path, lit, cop = _as_path(r), l[1], flip.get(op, op)
        return _cmp_with_null_order(num_path_col(path), cop, lit)
    lc = _compile_expr(l, num_path_col)
    rc = _compile_expr(r, num_path_col)
    if op == "+":
        return F.when(lc.isNull(), rc).when(rc.isNull(), lc).otherwise(lc + rc)
    if op == "-":
        return lc - rc
    if op == "*":
        return lc * rc
    if op == "/":
        return lc.cast("double") / rc.cast("double")
    if op == "%":
        # jq truncates both operands toward zero (jqlib's int()) and
        # keeps the dividend's sign, as Spark's remainder does.  A long
        # holds an operand below 2^63 (try_cast truncates, and is NULL
        # past that, where a cast fails with CAST_OVERFLOW); a larger
        # one is an integral double that decimal(38,0) holds below
        # 1e38, and the remainder then fits a long whenever one operand
        # does; the guards route wider operands and zero divisors.
        ld, rd = lc.cast("double"), rc.cast("double")
        ll, rl = ld.try_cast("long"), rd.try_cast("long")
        wide = F.try_mod(ld.try_cast("decimal(38,0)"), rd.try_cast("decimal(38,0)"))
        return F.when(ll.isNotNull() & rl.isNotNull(), F.try_mod(ll, rl)).otherwise(
            wide.try_cast("long")
        )
    raise AssertionError(op)


def _as_path(ast: AST) -> Optional[Path]:
    """Pure access chain → path tuple, else None."""
    acc: list = []
    if not _flatten_path_only(ast, acc):
        return None
    return tuple(acc)


def _flatten_path_only(ast: AST, acc: list) -> bool:
    tag = ast[0]
    if tag == "identity":
        return True
    if tag == "pipe":
        return _flatten_path_only(ast[1], acc) and _flatten_path_only(ast[2], acc)
    if tag == "field":
        acc.append(ast[1])
        return True
    if tag == "index_on":
        if not _flatten_path_only(ast[1], acc):
            return False
        idx = ast[2]
        if idx[0] == "literal" and isinstance(idx[1], (int, str)) and not isinstance(idx[1], bool):
            acc.append(idx[1])
            return True
        return False
    return False


_CMP_OPS = {"==", "!=", "<", "<=", ">", ">="}


def _parse_filters(cond: AST) -> Optional[list]:
    """select condition → AND-list of path-vs-literal comparisons
    (each element a Filter or an OrGroup of Filters)."""
    if cond[0] == "and":
        l = _parse_filters(cond[1])
        r = _parse_filters(cond[2])
        if l is None or r is None:
            return None
        return l + r
    if cond[0] == "or":
        l = _parse_filters(cond[1])
        r = _parse_filters(cond[2])
        if l is None or r is None or len(l) != 1 or len(r) != 1:
            return None  # OR of ANDs — Python tier
        members: list[Filter] = []
        for side in (l[0], r[0]):
            members.extend(side.filters if isinstance(side, OrGroup) else [side])
        return [OrGroup(members)]
    if cond[0] == "binop" and cond[1] in _CMP_OPS:
        op, lhs, rhs = cond[1], cond[2], cond[3]
        p = _as_path(lhs)
        if p is not None and rhs[0] == "literal":
            return [Filter(p, op, rhs[1])]
        p = _as_path(rhs)
        if p is not None and lhs[0] == "literal":
            flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            return [Filter(p, flip.get(op, op), lhs[1])]

        def _len_lit(a):
            return (
                a[0] == "literal"
                and isinstance(a[1], (int, float))
                and not isinstance(a[1], bool)
            )

        # r11: `(.path | length) OP n` — the array-size / key-count /
        # string-length gate (`select(.tags | length > 1)`)
        lp = _as_length_chain(lhs)
        if lp is not None and _len_lit(rhs):
            return [Filter(lp, op, rhs[1], fn="length")]
        lp = _as_length_chain(rhs)
        if lp is not None and _len_lit(lhs):
            flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            return [Filter(lp, flip.get(op, op), lhs[1], fn="length")]

        def num_lit(a):
            return a[0] == "literal" and isinstance(a[1], (int, float)) and not isinstance(a[1], bool)

        if _expr_ok(lhs) and num_lit(rhs):
            return [Filter((), op, rhs[1], lhs_expr=lhs)]
        if _expr_ok(rhs) and num_lit(lhs):
            flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            return [Filter((), flip.get(op, op), lhs[1], lhs_expr=rhs)]
        return None
    p = _as_path(cond)
    if p is not None:
        return [Filter(p, "truthy", None)]
    # trailing-call predicates applied to a path prefix (bare call
    # form applies to `.`): startswith/endswith/test (string preds;
    # test patterns must be portable between Python re and Java regex
    # or the program falls back), `not` (negated jq truthiness), and
    # `has(key)` (object-key / array-index membership)
    nodes: list = []
    _pipe_list(cond, nodes)
    call = nodes[-1]

    def prefix_path():
        path: tuple = ()
        for n in nodes[:-1]:
            pp = _as_path(n)
            if pp is None:
                return None
            path = path + pp
        return path

    # `.path | length OP n` — jq's pipe binds looser than the
    # comparison, so this arrives as a path prefix + a binop whose
    # LHS is the bare `length` call (r11)
    if call[0] == "binop" and call[1] in _CMP_OPS and len(nodes) > 1:
        op, lhs, rhs = call[1], call[2], call[3]

        def bare_len(a):
            return a[0] == "call" and a[1] == "length" and not a[2]

        def n_lit(a):
            return (
                a[0] == "literal"
                and isinstance(a[1], (int, float))
                and not isinstance(a[1], bool)
            )

        path = prefix_path()
        if path is not None:
            if bare_len(lhs) and n_lit(rhs):
                return [Filter(path, op, rhs[1], fn="length")]
            if bare_len(rhs) and n_lit(lhs):
                flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
                return [Filter(path, flip.get(op, op), lhs[1], fn="length")]
        return None
    if call[0] != "call":
        return None

    if (
        call[1] in _STR_PREDS
        and len(call[2]) == 1
        and call[2][0][0] == "literal"
        and isinstance(call[2][0][1], str)
    ):
        pat = call[2][0][1]
        if call[1] == "test" and not _regex_portable(pat):
            return None
        path = prefix_path()
        return None if path is None else [Filter(path, call[1], pat)]
    if call[1] == "not" and not call[2]:
        path = prefix_path()
        return None if path is None else [Filter(path, "not_truthy", None)]
    if (
        call[1] == "has"
        and len(call[2]) == 1
        and call[2][0][0] == "literal"
        and isinstance(call[2][0][1], (int, str))
        and not isinstance(call[2][0][1], bool)
    ):
        path = prefix_path()
        return None if path is None else [Filter(path, "has", call[2][0][1])]
    return None


def analyze_program(program: str) -> Optional[NativeIR]:
    try:
        ast = parse(program)
    except Exception:
        return None
    # r11: trailing bare ``keys`` / ``keys_unsorted`` at the TOP level
    # (``.a | keys``, ``.[] | keys_unsorted``) — strip the call and
    # record it; the remaining chain analyzes as usual and the call
    # applies to its final value.  Only a strict extension: these
    # programs previously always fell back to the Python tier (the
    # in-projection forms go through _as_keys_chain instead).
    _nodes: list = []
    _pipe_list(ast, _nodes)
    single_call: Optional[str] = None
    if (
        _nodes
        and _nodes[-1][0] == "call"
        and _nodes[-1][1] in ("keys", "keys_unsorted", "length")
        and not _nodes[-1][2]
    ):
        single_call = _nodes[-1][1]
        rest = _nodes[:-1]
        if rest:
            ast = rest[0]
            for n in rest[1:]:
                ast = ("pipe", ast, n)
        else:
            ast = ("identity",)
    return _analyze_ast(ast, single_call)


def _rebase(item, base: Path):
    """A filter (or OrGroup) read relative to ``base``."""
    if isinstance(item, OrGroup):
        return OrGroup([_rebase(f, base) for f in item.filters])
    return Filter(tuple(base) + item.lhs, item.op, item.lit, lhs_expr=item.lhs_expr, fn=item.fn)


def _analyze_ast(ast: AST, single_call: Optional[str] = None) -> Optional[NativeIR]:
    stages: list = []
    if not _flatten(ast, stages):
        return None
    ir = NativeIR()
    base: Path = ()
    for st in stages:
        kind = st[0]
        if kind == "step":
            # filters record absolute paths at select-time, so steps
            # before/after a select can both extend the base path
            base = base + (st[1],)
        elif kind == "select":
            ir.filters.extend(_rebase(f, base) for f in st[1])
        elif kind == "project":
            proj = {}
            for k, v in st[1].items():
                if isinstance(v, tuple) and v and v[0] == "lit":
                    proj[k] = v
                elif isinstance(v, tuple) and v and v[0] == "expr":
                    proj[k] = ("expr", v[1], base)  # paths inside are base-relative
                elif isinstance(v, tuple) and v and v[0] in ("strcat", "strinterp"):
                    proj[k] = (
                        v[0],
                        tuple((pk, base + pv) if pk != "lit" else (pk, pv) for pk, pv in v[1]),
                    )
                elif isinstance(v, tuple) and v and v[0] == "ifelse":
                    _, fl, t_spec, e_spec = v
                    proj[k] = (
                        "ifelse",
                        [_rebase(f, base) for f in fl],
                        *(("path", base + b[1]) if b[0] == "path" else b for b in (t_spec, e_spec)),
                    )
                elif isinstance(v, tuple) and v and v[0] in _SPEC_KINDS:
                    # every other spec kind reads the path in its slot 1
                    proj[k] = (v[0], base + v[1]) + v[2:]
                else:
                    full = base + v
                    if full and isinstance(full[0], str) and full[0] in _SPEC_KINDS:
                        return None  # field name collides with a spec tag
                    proj[k] = full
            ir.project = proj
            if single_call is not None:
                # keys over a CONSTRUCTED object — Python tier
                return None
            # projection must be final
            return ir if st is stages[-1] else None
    ir.single_path = base
    ir.single_call = single_call
    return ir


def analyze_program_single_wrap(
    program: str, fname: str
) -> Optional[NativeIR]:
    """r11: bare single-TYPE programs whose TAIL is a projection-value
    shape — the jq1 style ``.a | tostring``, ``.a | floor``,
    ``"pfx-\\(.a)"`` — wrap that tail as a synthetic one-field object
    (``{col1: (<tail>)}``) and run the standard project analysis.
    Sound because both tiers marshal a single-TYPE output and a
    project field through the same rules (the bare-vs-named
    differential pins the DISPATCH side; the spec compilers pin the
    value side).  The split point keeps every select / limit / first
    stage in the pipe PREFIX, since project values cannot contain
    them; a tail that is itself an object construct is
    rejected (a real user object marshals the WHOLE object into
    col1 — the long-standing exclusion)."""
    try:
        ast = parse(program)
    except Exception:
        return None
    nodes: list = []
    _pipe_list(ast, nodes)
    split = 0
    for i, n in enumerate(nodes):
        # a bare reduce iterates outside a projection: Python tier
        if n[0] == "reduce" or (n[0] == "call" and n[1] in ("select", "limit", "first")):
            split = i + 1
    tail = nodes[split:]
    if not tail:
        return None
    value = tail[0]
    for n in tail[1:]:
        value = ("pipe", value, n)
    if value[0] == "object":
        return None
    wrapped: AST = ("object", [(("literal", fname), value)])
    if split:
        new_ast: AST = nodes[0]
        for n in nodes[1:split]:
            new_ast = ("pipe", new_ast, n)
        new_ast = ("pipe", new_ast, wrapped)
    else:
        new_ast = wrapped
    ir = _analyze_ast(new_ast)
    if ir is None:
        return None
    ir.wrapped_single = True
    return ir


# ---------------------------------------------------------------------------
# IR → Columns
# ---------------------------------------------------------------------------


def _json_path(p: Path) -> str:
    out = "$"
    for s in p:
        if isinstance(s, int):
            out += f"[{s}]"
        else:
            out += f".{s}"
    return out


# --- doc-level bind-once (r15, guide §1.2 per-task work) -----------------
# A compiled plan's output columns read the SAME per-document variant
# parse many times per row.  Catalyst's CollapseProject re-inlines
# projected aliases into every use, and the variant machinery is
# CodegenFallback (no whole-stage codegen, so no subexpression
# elimination), so each occurrence really evaluates per row.
#
# Fix: NativePlan.apply binds the parse ONCE per row in a one-element
# explode (a Generate blocks alias re-inlining) and hands the bound
# variant ``dv`` to every builder, which reads it instead of re-parsing
# the doc column.  The bound variant also yields the per-row tier route
# (`_python_rows`).
_BIND_COL = "__jq_docbind"


def _number_text(v: Column, depth: int = 2, s=None) -> Column:
    """Whether the raw text view of variant ``v`` may print a number
    unlike jq: its schema names a non-integer number type.  A mixed
    array's schema hides its element types (``[1.0, "a"]`` is
    ``ARRAY<VARIANT>``), so a VARIANT in it looks ``depth`` levels
    further into the elements, and counts as number text below that."""
    s = F.schema_of_variant(v) if s is None else s
    types = "DECIMAL|DOUBLE|FLOAT"
    if depth == 0:
        return s.rlike(types + "|VARIANT")
    return s.rlike(types) | (
        s.contains("VARIANT") & F.exists(_elements(v), lambda e: _number_text(e, depth - 1))
    )


def _elements(v: Column) -> Column:
    """An array's elements or an object's values in variant ``v``;
    NULL for anything else."""
    return F.coalesce(
        v.try_cast("array<variant>"),
        F.map_values(v.try_cast("map<string,variant>")),
    )


# --- per-row type guards ----------------------------------------------------
# The builders below evaluate jq exactly only on the JSON kinds they
# expect: ``ascii_downcase`` on a string, ``floor`` on a number, a
# number into a numeric slot.  Each plan
# lists, per path it reads, the kinds its builders take there and any
# further checks on the value (`_Guards`); a row holding anything else
# goes to the exact Python tier (`_python_rows`), which raises where jq
# raises and marshals leniently where the reference does.

# JSON kinds as ``schema_of_variant`` names them
_KIND_RE = {
    "null": "VOID",
    "boolean": "BOOLEAN",
    "number": "BIGINT|DECIMAL.*|DOUBLE|FLOAT",
    "string": "STRING",
    "array": "ARRAY<.*",
    "object": "OBJECT<.*",
}
_ANY = frozenset(_KIND_RE)
_STRING = frozenset({"string"})
_NULL_NUM = frozenset({"null", "number"})
_ITERABLE = frozenset({"array", "object"})
# integral slots: the largest magnitude a double carries exactly into
# the slot (the marshaller wraps wider values, Spark casts NULL them)
_INT_BOUND = {
    T.ByteType: 2.0**7, T.ShortType: 2.0**15, T.IntegerType: 2.0**31, T.LongType: 2.0**53,
}


def _kind(v: Column, s: Column) -> Column:
    """The schema ``s`` of variant ``v`` for a scalar; just ``OBJECT<``
    or ``ARRAY<`` for a container, whose elements ``schema_of_variant``
    would walk."""
    return (
        F.when(v.try_cast("map<string,variant>").isNotNull(), F.lit("OBJECT<"))
        .when(v.try_cast("array<variant>").isNotNull(), F.lit("ARRAY<"))
        .otherwise(s)
    )


def _not_kind(s: Column, kinds) -> Column:
    """Whether a value with variant schema ``s`` is none of ``kinds``;
    a missing value (NULL ``s``) counts as null."""
    alts = "|".join(_KIND_RE[k] for k in sorted(kinds))
    return ~F.coalesce(s.rlike(f"^({alts})$"), F.lit("null" in kinds))


def _slot_bad(v: Column, dt: T.DataType, nested: bool = False, s=None) -> Column:
    """Whether the marshaller coerces value ``v`` into declared type
    ``dt`` where a Spark cast or parse would not: a string, boolean or
    container into a number slot, a scalar into an array slot, an
    integer too wide for its slot.  ``nested`` values are parsed
    strictly, so an integral slot there takes only integers."""
    s = F.schema_of_variant(v) if s is None else s
    if isinstance(dt, T.StringType):
        return F.lit(False)
    if isinstance(dt, T.BooleanType):
        return _not_kind(s, {"null", "boolean"})
    if type(dt) in _INT_BOUND:
        kind = ~s.rlike("^(BIGINT|VOID)$") if nested else _not_kind(s, _NULL_NUM)
        return kind | (F.abs(v.try_cast("double")) >= F.lit(_INT_BOUND[type(dt)]))
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return _not_kind(s, _NULL_NUM)
    if isinstance(dt, T.ArrayType):
        return _not_kind(_kind(v, s), {"null", "array"}) | F.exists(
            v.try_cast("array<variant>"), lambda e: _slot_bad(e, dt.elementType, True)
        )
    if isinstance(dt, T.MapType):
        return F.exists(
            F.map_values(v.try_cast("map<string,variant>")),
            lambda e: _slot_bad(e, dt.valueType, True),
        )
    c = _not_kind(_kind(v, s), {"null", "object"})
    for f in dt.fields:
        fv = F.try_variant_get(v, _json_path((f.name,)), "variant")
        c = c | _slot_bad(fv, f.dataType, True)
    return c


def _each_bad(kinds=None, slot=None) -> Callable:
    """A check that some element of an array value is none of ``kinds``
    or is bad for declared type ``slot`` (`_slot_bad`)."""

    def bad(e: Column) -> Column:
        c = F.lit(False) if slot is None else _slot_bad(e, slot)
        return c if kinds is None else c | _not_kind(F.schema_of_variant(e), kinds)

    return lambda v, s: F.exists(v.try_cast("array<variant>"), bad)


def _variant_expr(ast: AST, base: Path, x: Column) -> Column:
    """A compiled expression over the paths of level value ``x``."""
    return _compile_expr(ast, lambda q: F.try_variant_get(x, _json_path(tuple(base) + q), "double"))


class _Guards:
    """The type guards of a plan over the document.  Per path read
    there, ``kinds`` holds the JSON kinds the builders take and
    ``checks`` named checks ``(value, its schema) -> bad``; specs
    reading one path share its entry and its one ``schema_of_variant``.
    ``texts`` are the paths read as text, ``exprs`` checks over the
    document itself (a zero divisor)."""

    def __init__(self):
        self.kinds: dict = {}
        self.checks: dict = {}
        self.texts: set = set()
        self.exprs: list = []

    def read(self, p: Path, kinds=_ANY, **checks) -> None:
        for i, step in enumerate(p):
            # jq errors on a step into anything but null or its container
            self.read(p[:i], {"null", "object" if isinstance(step, str) else "array"})
        self.kinds[p] = self.kinds.get(p, _ANY) & frozenset(kinds)
        self.checks.setdefault(p, {}).update(checks)

    def text(self, p: Path) -> None:
        """``p``'s value is read as text (module docstring, rule 2)."""
        self.read(p)
        self.texts.add(p)

    def slot(self, p: Path, dt: T.DataType, nested: bool = False) -> None:
        """``p``'s value lands in declared type ``dt``."""
        if isinstance(dt, T.StringType):
            self.read(p)  # any kind prints as text
        else:
            self.read(p, **{f"slot {dt.simpleString()} {nested}": lambda v, s: _slot_bad(v, dt, nested, s)})
        if _holds_text(dt):
            self.text(p)

    def wide(self, p: Path, dt: T.DataType, value=lambda v: v.try_cast("double")) -> None:
        """The number computed from ``p``'s value must fit integral slot
        ``dt``: the marshaller wraps a wider one where Spark gives NULL."""
        b = _INT_BOUND.get(type(dt))
        if b is not None:
            self.read(p, wide=lambda v, s: F.abs(value(v)) >= F.lit(b - 1))

    def filter(self, f: "Filter") -> None:
        if f.lhs_expr is not None:
            self.expr(f.lhs_expr, f.lhs)
        elif f.fn == "length":
            self.read(f.lhs, _ANY - {"boolean"})
        elif f.op == "has":
            self.read(f.lhs, {"object" if isinstance(f.lit, str) else "array"})
        elif f.op in _STR_PREDS:
            self.read(f.lhs, _STRING)
        else:
            self.read(f.lhs)  # truthiness and jq's total order take any kind

    def expr(self, ast: AST, base: Path, kinds=_NULL_NUM) -> None:
        """Arithmetic and comparisons read numbers; null is ``+``'s
        identity and sorts first, and errors in ``- * / %`` and ``-x``."""
        p = _as_path(ast)
        if p is not None:
            self.read(tuple(base) + p, kinds)
        elif ast[0] == "neg":
            self.expr(ast[1], base, {"number"})
        elif ast[0] == "binop":
            op = ast[1]
            k = _NULL_NUM if op == "+" or op in _CMP_OPS else {"number"}
            self.expr(ast[2], base, k)
            self.expr(ast[3], base, k)
            if op in ("/", "%"):
                def zero(x, d=ast[3], op=op):
                    c = _variant_expr(d, base, x)
                    if op == "/":
                        return c == 0
                    # jq's % truncates the divisor first; past 1e38 the
                    # compiled remainder has no exact operand type
                    n = F.abs(_variant_expr(ast[2], base, x))
                    return (F.abs(c) < 1) | (F.abs(c) >= 1e38) | (n >= 1e38)

                self.exprs.append(zero)

    def fnchain(self, p: Path, fns) -> None:
        names = [n for n, _ in fns]
        head = next((n for n in names if n not in ("ltrimstr", "rtrimstr")), None)
        checks: dict = {}
        if head in ("ascii_downcase", "ascii_upcase", "gsub", "sub"):
            kinds = _STRING
        elif head == "tonumber":
            kinds = {"number", "string"}
            checks["parse"] = lambda v, s: (s == "STRING") & ~v.try_cast("string").rlike(
                r"^-?[0-9]{1,15}(\.[0-9]{1,15})?$"
            )
        elif head in _NUM_FNS:
            kinds = {"number"}
        else:
            kinds = _ANY  # tostring, tojson, type and the trims take any value
        if "sqrt" in names:
            checks["negative"] = lambda v, s: v.try_cast("double") < 0
        self.read(p, kinds, **checks)
        if names[0] in ("tostring", "tojson", "ltrimstr", "rtrimstr"):
            self.text(p)

    def spec(self, spec, dt: T.DataType) -> None:
        """Guards of one projection spec into declared type ``dt``."""
        kind = spec[0] if spec and spec[0] in _SPEC_KINDS else "path"
        if kind == "path":
            self.slot(spec, dt)
        elif kind == "expr":
            _, ast, base = spec
            self.expr(ast, base)
            b = _INT_BOUND.get(type(dt))
            if b is not None:
                self.exprs.append(lambda x: F.abs(_variant_expr(ast, base, x)) >= F.lit(b))
        elif kind == "fnchain":
            self.fnchain(spec[1], spec[2])
            if spec[2][-1][0] in _NUM_FNS:
                self.wide(spec[1], dt)
        elif kind == "alt":
            # only a jq-truthy value lands in the slot
            key = f"alt {dt.simpleString()}"
            bad = lambda v, s: _slot_bad(v, dt, s=s) & _variant_truthy(v)  # noqa: E731
            self.read(spec[1], **{key: bad})
            if _holds_text(dt):
                self.text(spec[1])
        elif kind == "length":
            self.read(spec[1], _ANY - {"boolean"})
            self.wide(spec[1], dt)
        elif kind in ("keyssorted", "keysunsorted"):
            # object keys are strings: only a string element slot holds them
            strings = isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StringType)
            self.read(spec[1], _ITERABLE if strings else {"array"})
        elif kind in ("strpred", "splitidx", "splitarr"):
            self.read(spec[1], _STRING)
        elif kind == "capture":
            pat = spec[2]
            # no match: jq's capture yields no value, so the object none
            self.read(spec[1], _STRING, nomatch=lambda v, s: ~v.try_cast("string").rlike(pat))
        elif kind == "strcat":
            for k, p in spec[1]:
                if k == "path":
                    self.read(p, {"null", "string"})
        elif kind == "strinterp":
            for k, p in spec[1]:
                if k != "lit":
                    self.text(p)
        elif kind == "ifelse":
            for f in _each_filter(spec[1]):
                self.filter(f)
            for b in spec[2:]:
                if b[0] == "path":
                    self.slot(b[1], dt)
        elif kind == "slicearr":
            if isinstance(dt, T.ArrayType):
                self.slot(spec[1], dt, nested=True)
            else:
                self.read(spec[1], {"null", "string"})
        elif kind == "arrayfn":
            self.arrayfn(spec[1], spec[2], spec[3], dt)
        elif kind == "reduce":
            _, p, init, upd, _var = spec
            self.read(p, {"array"}, elems=_each_bad({"number"}))
            self.wide(p, dt, lambda v: _reduce_col(v.try_cast("array<double>"), init, upd))

    def arrayfn(self, p: Path, fn: str, args, dt: T.DataType) -> None:
        top = {"null", "array"} if fn in ("first", "last", "reverse") else {"array"}
        if fn == "join":
            elems = _each_bad({"null", "string", "number", "boolean"})
        elif fn == "map":
            steps, leaf = args[0], dt.elementType

            def bad(e: Column) -> Column:
                c = F.lit(False)
                for step in steps:
                    c = c | _not_kind(F.schema_of_variant(e), {"null", "object"})
                    e = F.try_variant_get(e, _json_path((step,)), "variant")
                return c | _slot_bad(e, leaf)

            elems = lambda v, s: F.exists(v.try_cast("array<variant>"), bad)  # noqa: E731
        else:
            et = dt.elementType if isinstance(dt, T.ArrayType) else dt
            elems = _each_bad(_NULL_NUM if not isinstance(et, T.StringType) else None, et)
        self.read(p, top, elems=elems)
        if fn == "add":
            self.wide(p, dt, lambda v: F.aggregate(v.try_cast("array<double>"), F.lit(0.0), lambda a, x: a + F.coalesce(x, F.lit(0.0))))
        if _holds_text(dt):
            self.text(p)

    def bad(self, x: Column) -> Column:
        """Whether document ``x`` holds a value some builder would not
        evaluate exactly."""
        c = F.lit(False)
        for p in sorted(self.kinds, key=lambda q: (len(q), repr(q))):
            v = F.try_variant_get(x, _json_path(p), "variant") if p else x
            s = F.schema_of_variant(v)
            kinds = self.kinds[p]
            if kinds != _ANY:
                # a container expected here: tell it without walking it
                c = c | _not_kind(_kind(v, s) if kinds & _ITERABLE else s, kinds)
            for check in self.checks[p].values():
                c = c | check(v, s)
            if p in self.texts:
                c = c | _number_text(v, s=s)
        for check in self.exprs:
            c = c | check(x)
        return c


def _python_rows(col: Column, dv: Column, guards: _Guards, null_doc: bool) -> Column:
    """Rows the exact Python tier must evaluate, over the bound variant
    ``dv`` of doc column ``col``:

    - well-formed JSON that the variant parser rejects.  Under Spark's
      default ``spark.sql.variant.allowDuplicateKeys=false`` that is
      exactly a duplicate key at any depth, escape-spelled ones ("a" vs
      "\\u0061") included — jq reads those last-occurrence-wins,
      get_json_object reads the first;
    - corrupt and NULL cells, when ``null_doc`` (jq fails on the null
      document they bind; otherwise they stay native);
    - a row where a guard fires (`_Guards`), also one a filter drops.

    Never NULL, so ``~`` selects the complement.  A CASE, not an OR:
    the optimizer would push the doc-only half below the binding
    Generate and re-read every row's text."""
    bad_doc = F.get_json_object(col, "$").isNotNull()
    return F.when(dv.isNull(), bad_doc | F.lit(null_doc)).otherwise(
        F.coalesce(guards.bad(dv), F.lit(False))
    )


def _num_at(col: Column, path: Path) -> Column:
    """Double-typed path read for compiled arithmetic."""
    return F.get_json_object(col, _json_path(path)).try_cast("double")


def _scalar_out_col(col: Column, path: Path, dt: T.DataType) -> Column:
    """Plain-path output at the scalar tier (string slots read the raw
    text view: rows whose value holds number text go to the Python
    tier, `_python_rows`)."""
    return _cast_extracted(F.get_json_object(col, _json_path(path)), dt)


def _holds_text(dt: T.DataType) -> bool:
    """Whether a declared type reads some JSON value as text: a string,
    or an array/map/struct with a string inside."""
    if isinstance(dt, T.ArrayType):
        return _holds_text(dt.elementType)
    if isinstance(dt, T.MapType):
        return _holds_text(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_holds_text(f.dataType) for f in dt.fields)
    return isinstance(dt, T.StringType)


def _lit_col(value: Any, dt: T.DataType) -> Column:
    """A literal into a declared slot; a string slot holds the
    marshaller's own text (jq's: 1.0 → "1", 1e20 → "1e+20")."""
    if isinstance(dt, T.StringType):
        return F.lit(None if value is None else _as_string(value)).cast(dt)
    return F.lit(value).try_cast(dt)


def _cast_extracted(raw: Column, dt: T.DataType) -> Column:
    """get_json_object string → declared type (the guards route the
    values the lenient marshaller coerces, `_slot_bad`)."""
    if isinstance(dt, T.StringType):
        return raw
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        # via double so "1.5" truncates like the lenient marshaller
        return raw.try_cast("double").try_cast(dt)
    if isinstance(dt, (T.DoubleType, T.FloatType, T.BooleanType)):
        return raw.try_cast(dt)
    # nested declared types: parse the extracted JSON text
    return F.from_json(raw, dt)


def _each_filter(items):
    """Flatten Filter/OrGroup list to its leaf Filters (schema pass)."""
    for it in items:
        if isinstance(it, OrGroup):
            yield from it.filters
        else:
            yield it


def _cond_col(item, leaf_fn) -> Column:
    """Filter or OrGroup → boolean Column (OR of leaf columns)."""
    if isinstance(item, OrGroup):
        col = leaf_fn(item.filters[0])
        for f in item.filters[1:]:
            col = col | leaf_fn(f)
        return col
    return leaf_fn(item)


def _variant_truthy(v: Column) -> Column:
    """jq truthiness on an exact-typed variant value: falsy iff the
    value is missing (SQL NULL variant), JSON null (VOID), or boolean
    false.  Strings — including "false" — and all numbers (even 0)
    are truthy, matching jq; the text view alone cannot express this
    (boolean false and the STRING "false" print identically)."""
    vt = F.schema_of_variant(v)
    is_false = (vt == F.lit("BOOLEAN")) & ~F.try_variant_get(v, "$", "boolean")
    return v.isNotNull() & (vt != F.lit("VOID")) & ~is_false


def _variant_has(v: Column, key) -> Column:
    """jq ``has`` on an exact-typed variant: string key → object-key
    membership of an object, int key → 0 <= key < length of an array
    (the guards route every other kind)."""
    if isinstance(key, str):
        return F.array_contains(F.map_keys(v.try_cast("map<string,variant>")), F.lit(key))
    return F.lit(key >= 0) & (F.size(v.try_cast("array<variant>")) > F.lit(key))


def _variant_leaf_filter(v: Column, f: "Filter") -> Column:
    """One select() leaf evaluated on the exact-typed VARIANT value at
    its path (``select(has("k"))``, ``select(.a > 5)``,
    ``select(.tags | length > 2)``)."""
    if f.fn == "length":
        return F.coalesce(
            _CMP_FN[f.op](_variant_length(v), F.lit(float(f.lit))),
            F.lit(False),
        )
    if f.op == "truthy":
        return _variant_truthy(v)
    if f.op == "not_truthy":
        return ~_variant_truthy(v)
    if f.op == "has":
        return _variant_has(v, f.lit)
    if f.op in _STR_PREDS:
        return _string_pred_col(v, f.op, f.lit)
    if f.lit is None:
        vt = F.schema_of_variant(v)
        is_null = v.isNull() | (vt == F.lit("VOID"))
        return is_null if f.op == "==" else ~is_null
    return _variant_cmp(v, f.op, f.lit)


def _variant_length(v: Column) -> Column:
    """jq ``length`` on an exact-typed variant: element count for
    arrays, key count for objects, codepoint count for strings, |n|
    for numbers, 0 for null/missing (the guards route booleans).
    Double-typed so one expression serves every declared numeric
    column type."""
    vt = F.schema_of_variant(v)
    return (
        F.when(v.isNull() | (vt == F.lit("VOID")), F.lit(0).cast("double"))
        .when(vt.startswith("ARRAY"), F.size(v.try_cast("array<variant>")).cast("double"))
        .when(vt.startswith("OBJECT"), F.size(v.try_cast("map<string,variant>")).cast("double"))
        .when(vt == F.lit("STRING"), F.length(v.try_cast("string")).cast("double"))
        .otherwise(F.abs(v.try_cast("double")))
    )


def _variant_type_name(v: Column) -> Column:
    """jq ``type``: the value's JSON type name from the exact-typed
    variant — null/missing → "null", BIGINT/DOUBLE/DECIMAL →
    "number" (r11)."""
    vt = F.schema_of_variant(v)
    return (
        F.when(v.isNull() | (vt == F.lit("VOID")), F.lit("null"))
        .when(vt == F.lit("BOOLEAN"), F.lit("boolean"))
        .when(vt == F.lit("STRING"), F.lit("string"))
        .when(vt.startswith("ARRAY"), F.lit("array"))
        .when(vt.startswith("OBJECT"), F.lit("object"))
        .otherwise(F.lit("number"))
    )


def _index_keys(v: Column) -> Column:
    """jq ``keys`` of an array variant: its index strings "0".."n-1"
    (downstream try_cast turns them into the declared element type)."""
    n = F.size(v.try_cast("array<variant>"))
    idx = F.when(n > 0, F.sequence(F.lit(0), n - F.lit(1))).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: i.cast("string"))


def _variant_keys(v: Column) -> Column:
    """jq ``keys`` of an object or array variant: an object's key names
    SORTED — variant objects store fields sorted by key bytes, which is
    jq's codepoint sort — else `_index_keys`."""
    return F.when(
        F.schema_of_variant(v).startswith("OBJECT"), F.map_keys(v.try_cast("map<string,variant>"))
    ).otherwise(_index_keys(v))


def _scalar_map_col(dv: Column, path: Path, dt: T.MapType) -> Column:
    """Scalar-tier map-declared output: variant-gated M4 rule
    (object → map, null/missing → NULL, any other value → empty map)."""
    vv = F.try_variant_get(dv, _json_path(path), "variant")
    vt = F.schema_of_variant(vv)
    return (
        F.when(vv.isNull() | (vt == F.lit("VOID")), F.lit(None).cast(dt))
        .when(vt.startswith("OBJECT"), vv.try_cast(dt))
        .otherwise(F.create_map().cast(dt))
    )


def _variant_cmp(v: Column, op: str, lit: Any) -> Column:
    """Exact jq total-order comparison of a variant value against a
    scalar literal: null < false < true < numbers < strings < arrays
    < objects.  Missing keys and JSON null therefore compare DEFINED
    (e.g. `.missing < 10` is true), never SQL-NULL-dropped — the same
    contract _cmp_with_null_order gives expression filters."""
    vt = F.schema_of_variant(v)
    val_rank = (
        F.when(v.isNull() | (vt == F.lit("VOID")), 0)
        .when(
            vt == F.lit("BOOLEAN"),
            F.when(F.try_variant_get(v, "$", "boolean"), 2).otherwise(1),
        )
        .when(vt == F.lit("STRING"), 4)
        .when(vt.startswith("ARRAY"), 5)
        .when(vt.startswith("OBJECT"), 6)
        .otherwise(3)  # every numeric variant type
    )
    if isinstance(lit, bool):
        lit_rank = 2 if lit else 1
        # same rank ⇒ same boolean value — the comparison degenerates
        same_val = F.lit(op in ("==", "<=", ">="))
        return F.when(
            val_rank == F.lit(lit_rank), same_val
        ).otherwise(_CMP_FN[op](val_rank, F.lit(lit_rank)))
    if isinstance(lit, (int, float)):
        lit_rank, val_col, lit_col = 3, v.try_cast("double"), F.lit(float(lit))
    else:
        lit_rank, val_col, lit_col = 4, v.try_cast("string"), F.lit(lit)
    return F.when(
        val_rank == F.lit(lit_rank), _CMP_FN[op](val_col, lit_col)
    ).otherwise(_CMP_FN[op](val_rank, F.lit(lit_rank)))


def _tostring_view(raw: Column) -> Column:
    """jq ``tostring`` of the value at a path: the raw text view, with
    null/missing as "null".  Number text never reaches it (`_python_rows`)."""
    return F.coalesce(raw, F.lit("null"))


def _json_quote(c: Column) -> Column:
    """A string Column → its JSON string-token form (quoted, Jackson
    escaping via to_json(struct) wrapper-stripping); NULL → "null"
    (jq tojson(null))."""
    js = F.to_json(F.struct(c.alias("s")))
    return F.when(c.isNull(), F.lit("null")).otherwise(
        js.substr(F.lit(6), F.length(js) - 6)
    )


def _b64_view(c: Column) -> Column:
    """jq ``@base64`` of a tostring view: utf-8 base64 with Spark's
    76-char \\r\\n chunking stripped (RFC 4648 unchunked, matching
    Python's base64.b64encode)."""
    return F.regexp_replace(F.base64(F.encode(c, "utf-8")), "\r\n", "")


def _tojson_view(raw: Column, v: Column) -> Column:
    """jq ``tojson`` / ``@json`` rendering of the value: like
    `_tostring_view` but STRINGS come back QUOTED with JSON escaping
    (`_json_quote`, read from the variant's string value)."""
    return F.when(
        F.schema_of_variant(v) == F.lit("STRING"),
        _json_quote(F.try_variant_get(v, "$", "string")),
    ).otherwise(_tostring_view(raw))


def _interp_view(kind: str, raw: Column, v: Column) -> Column:
    """One interpolated value of a string interpolation part list
    (`_as_strinterp`): tostring, tojson for @json, or base64 of
    tostring for @base64."""
    if kind == "pathjson":
        return _tojson_view(raw, v)
    view = _tostring_view(raw)
    return _b64_view(view) if kind == "pathb64" else view


def _keys_unsorted_col(raw: Column, v: Column) -> Column:
    """jq ``keys_unsorted``: an object's keys in DOCUMENT order —
    ``json_object_keys`` over the raw text preserves field order,
    where variants sort keys (r10) — else `_index_keys`."""
    return F.when(
        F.schema_of_variant(v).startswith("OBJECT"), F.json_object_keys(raw)
    ).otherwise(_index_keys(v))


def _string_pred_col(c: Column, op: str, pat: str) -> Column:
    """startswith/endswith/contains/test on a string (the guards route
    every other kind; test's pattern portability is pre-checked)."""
    c = c.try_cast("string")
    if op == "startswith":
        return c.startswith(pat)
    if op == "endswith":
        return c.endswith(pat)
    if op == "contains":
        return c.contains(pat)
    return c.rlike(pat)


def _filter_col(json_col: Column, dv: Column, f: Filter) -> Column:
    """One select() leaf at the scalar tier: expression filters read
    doubles from the text view, every other leaf reads the value's
    exact-typed variant from the bound document ``dv``
    (`_variant_leaf_filter`)."""
    if f.lhs_expr is not None:
        c = _compile_expr(
            f.lhs_expr,
            lambda p: _num_at(json_col, f.lhs + p),
        )
        return _cmp_with_null_order(c, f.op, f.lit)
    v = F.try_variant_get(dv, _json_path(f.lhs), "variant")
    return _variant_leaf_filter(v, f)


_CMP_FN = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _cmp_with_null_order(c: Column, op: str, lit: Any) -> Column:
    """jq's total order places null below every number, so a null
    path value has a DEFINED comparison result, not SQL NULL."""
    return F.coalesce(_CMP_FN[op](c, F.lit(lit)), F.lit(_NULL_CMP[op]))


def _java_quote(s: str) -> str:
    """Literal string as a Java regex (\\Q...\\E quoting)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


_NUMERIC_TYPES = (T.IntegerType, T.LongType, T.DoubleType, T.FloatType, T.ShortType)


def _slice_idx(idx, n: Column, default: Column) -> Column:
    """jq slice index → effective 0-based offset Column: negatives
    count from the end, the result clamps to [0, n]."""
    if idx is None:
        return default
    i = F.lit(idx)
    eff = F.when(i < 0, n + i).otherwise(i)
    return F.greatest(F.least(eff, n), F.lit(0))


def _slice_col(raw: Column, lo, hi, out_dt: T.DataType) -> Column:
    """jq ``.path[lo:hi]`` at the scalar tier over the path's text
    ``raw``: an array decl slices the array (from_json with the
    declared element type, then clamped index arithmetic, negatives
    from the end); a string decl substrings by codepoints (Spark
    length/substr count characters, like jq)."""
    val = F.from_json(raw, out_dt) if isinstance(out_dt, T.ArrayType) else raw
    n = F.size(val) if isinstance(out_dt, T.ArrayType) else F.length(val)
    lo_c = _slice_idx(lo, n, F.lit(0))
    cnt = F.greatest(_slice_idx(hi, n, n) - lo_c, F.lit(0))
    if isinstance(out_dt, T.ArrayType):
        return F.slice(val, lo_c + F.lit(1), cnt)
    return val.substr(lo_c + F.lit(1), cnt)


def _arrayfn_col(raw: Column, fn: str, args, out_dt: T.DataType) -> Column:
    """Array-function projection.

    The array is parsed ONCE via from_json with the element type taken
    from the declared output, then the function is a builtin Catalyst
    expression (array_max / reverse / sort_array / slice / transform /
    array_join) or an aggregate() fold for add."""

    def lenient(dt: T.DataType) -> T.DataType:
        # integral decls parse as double then truncate, matching the
        # lenient marshaller (strict from_json nulls 2.5 → int)
        if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
            return T.DoubleType()
        return dt

    if fn in ("add", "max", "min", "first", "last"):
        et = lenient(out_dt)
        arr = F.from_json(raw, T.ArrayType(et))
        if fn == "add":
            # jq: [] | add == null; null elements are identity for +
            return F.aggregate(
                arr,
                F.lit(None).cast(et),
                lambda acc, x: F.when(x.isNull(), acc)
                .when(acc.isNull(), x)
                .otherwise(acc + x),
            )
        if fn == "max":
            # jq's total order puts null BELOW everything, so null
            # elements never win max — matching array_max's null skip
            return F.array_max(arr)
        if fn == "min":
            # ...but a null element IS the minimum in jq
            return F.when(
                F.exists(arr, lambda x: x.isNull()), F.lit(None).cast(et)
            ).otherwise(F.array_min(arr))
        if fn == "first":
            return F.try_element_at(arr, F.lit(1))
        return F.try_element_at(arr, F.lit(-1))
    if fn == "join":
        arr = F.from_json(raw, T.ArrayType(T.StringType()))
        # jq join: null elements render as ""
        return F.array_join(arr, args[0], "")
    if fn == "map":
        mp = args[0]
        leaf = lenient(out_dt.elementType)
        et: T.DataType = leaf
        for s in reversed(mp):
            et = T.StructType([T.StructField(s, et)])
        arr = F.from_json(raw, T.ArrayType(et))

        leaf_decl = out_dt.elementType

        def extract(e):
            # single-arg signature: transform would otherwise pass the
            # element INDEX into a second parameter (even a defaulted one)
            c = e
            for s in mp:
                c = c.getField(s)
            return c.try_cast(leaf_decl)

        return F.transform(arr, extract)
    # element-wise ops: parse leniently, truncate back to the decl after
    elem = out_dt.elementType
    parsed_t = T.ArrayType(lenient(elem))
    arr = F.from_json(raw, parsed_t)
    if fn == "reverse":
        # jq: reverse(null/missing) == [] (its length-based definition)
        out = F.coalesce(F.reverse(arr), F.lit([]).cast(parsed_t))
    elif fn == "sort":
        # sort_array places nulls FIRST — jq's total order (null lowest)
        out = F.sort_array(arr)
    elif fn == "unique":
        out = F.sort_array(F.array_distinct(arr))
    else:
        raise AssertionError(fn)
    if parsed_t.elementType != elem:
        out = F.transform(out, lambda x: x.try_cast(elem))
    return out


def _validate_new_specs(project: Optional[dict], schema: T.StructType) -> None:
    """Reject (fn, declared-type) combos the scalar compiler cannot
    honor, so `auto` mode falls back to the Python tier instead of
    mis-executing (raises _SchemaConflict, caught in compile_native)."""
    if not project:
        return
    types = {f.name: f.dataType for f in schema.fields}
    for name, spec in project.items():
        if not (isinstance(spec, tuple) and spec):
            continue
        dt = types.get(name)
        if dt is None:
            continue
        if _holds_text(dt) and (
            # computed numbers and the order-dependent array fns into a
            # string slot: only jqlib prints and orders those exactly
            (spec[0] == "expr" and _expr_kind(spec[1]) == "num")
            or spec[0] == "length"
            or (spec[0] == "arrayfn" and spec[2] in ("max", "min", "sort", "unique"))
            or (spec[0] == "fnchain" and spec[2][-1][0] in _NUM_FNS)
            # keys as text is Spark's array cast text, not jq's
            or (spec[0] in ("keyssorted", "keysunsorted") and isinstance(dt, T.StringType))
        ):
            raise _SchemaConflict(spec)
        if spec[0] == "fnchain" and (
            # a string fn over a computed number (tonumber | tojson), a
            # number fn over a computed string (tostring | tonumber), or
            # a string into a non-string slot: each depends on the text
            any((x in _NUM_FNS) != (y in _NUM_FNS) for (x, _), (y, _) in zip(spec[2], spec[2][1:]))
            or (spec[2][-1][0] not in _NUM_FNS and not isinstance(dt, T.StringType))
        ):
            raise _SchemaConflict(spec)
        if (spec[0] == "length" and not isinstance(dt, _NUMERIC_TYPES)) or (
            spec[0] in ("keyssorted", "keysunsorted") and not isinstance(dt, T.ArrayType)
        ):
            raise _SchemaConflict(spec)
        if spec[0] == "reduce" and _divides_by_value(spec[3]):
            raise _SchemaConflict(spec)  # a zero divisor mid-fold: no row guard
        if spec[0] in ("strcat", "strinterp") and not isinstance(dt, T.StringType):
            # concat/interpolation results are strings; numeric
            # declared targets would need Jackson-lenient coercion —
            # Python tier
            raise _SchemaConflict(spec)
        if spec[0] == "slicearr" and not isinstance(
            dt, (T.ArrayType, T.StringType)
        ):
            # a slice yields an array or a string; other declared
            # targets would need lenient coercion — Python tier
            raise _SchemaConflict(spec)
        if spec[0] == "arrayfn":
            _, _path, fn, _args = spec
            if fn == "add" and not isinstance(dt, _NUMERIC_TYPES):
                raise _SchemaConflict(spec)  # string/array concat → Python
            if fn in ("max", "min", "first", "last", "add") and isinstance(
                dt, (T.ArrayType, T.MapType, T.StructType)
            ):
                raise _SchemaConflict(spec)
            if fn in ("reverse", "sort", "unique", "map") and not isinstance(
                dt, T.ArrayType
            ):
                raise _SchemaConflict(spec)
            if fn == "join" and not isinstance(dt, T.StringType):
                raise _SchemaConflict(spec)
            if fn in ("sort", "unique") and isinstance(
                getattr(dt, "elementType", None),
                (T.ArrayType, T.MapType, T.StructType),
            ):
                # Spark's sort_array orders nested arrays/structs by
                # JVM ordering, which diverges from jq's cross-type
                # total order — refuse native so the Python tier keeps
                # jq semantics (VERDICT r4 #2: this gate was dead code
                # behind the reduce raise).
                raise _SchemaConflict(spec)
        if spec[0] == "reduce" and not isinstance(dt, _NUMERIC_TYPES):
            raise _SchemaConflict(spec)  # numeric fold only
        elif spec[0] == "strpred" and not isinstance(dt, T.BooleanType):
            raise _SchemaConflict(spec)
        elif spec[0] == "capture":
            # capture yields an object of named-group STRINGS; the
            # declared struct must resolve by name to a subset of the
            # pattern's groups (extra object keys are ignored by the
            # marshaller, missing ones can't be extracted) — anything
            # else needs lenient coercion, Python tier
            _, _path, _pat, names = spec
            if not isinstance(dt, T.StructType) or not dt.fields:
                raise _SchemaConflict(spec)
            for f in dt.fields:
                if not isinstance(f.dataType, T.StringType):
                    raise _SchemaConflict(spec)
                if f.name not in names:
                    raise _SchemaConflict(spec)
        elif spec[0] == "splitidx" and not isinstance(dt, T.StringType):
            raise _SchemaConflict(spec)
        elif spec[0] == "splitarr" and not (
            isinstance(dt, T.ArrayType)
            and isinstance(dt.elementType, T.StringType)
        ):
            # split always yields array<string>; other declared types
            # would need per-element Jackson-lenient coercion — Python
            raise _SchemaConflict(spec)


def _var_at(dv: Column, path: Path) -> Column:
    return F.try_variant_get(dv, _json_path(path), "variant") if path else dv


def _scalar_path_col(col: Column, dv: Column, path: Path, dt: T.DataType) -> Column:
    if isinstance(dt, T.MapType):
        return _scalar_map_col(dv, path, dt)
    return _scalar_out_col(col, path, dt)


def _scalar_spec_col(col: Column, dv: Column, spec, dt: T.DataType) -> Column:
    """One projection spec at the scalar tier.  The plan's guards
    (`_Guards.spec`) route every row whose values this does not take."""
    kind = spec[0] if spec and spec[0] in _SPEC_KINDS else "path"
    if kind == "path":
        return _scalar_path_col(col, dv, spec, dt)
    if kind == "lit":
        return _lit_col(spec[1], dt)
    if kind == "expr":
        _, ast, base = spec
        return _compile_expr(ast, lambda p: _num_at(col, tuple(base) + p)).cast(dt)
    path = spec[1]
    raw = F.get_json_object(col, _json_path(path))
    v = _var_at(dv, path)
    if kind == "fnchain":
        fns = spec[2]
        head = fns[0][0]
        if head in ("ltrimstr", "rtrimstr"):
            # jq passes NON-string values through these unchanged
            c = F.when(
                F.schema_of_variant(v) == F.lit("STRING"), _apply_fnchain(raw, fns)
            ).otherwise(_apply_fnchain(raw, fns[1:], json_text=True))
            return c.cast(dt)
        if head == "type":
            first, fns = _variant_type_name(v), fns[1:]
        elif head == "tojson":
            first, fns = _tojson_view(raw, v), fns[1:]
        elif head == "tostring":
            first, fns = _tostring_view(raw), fns[1:]
        else:
            first = raw
        return _apply_fnchain(first, fns).cast(dt)
    if kind == "alt":
        # jq // substitutes when the value is not jq-truthy.  Both
        # branches pre-cast to the declared type so when() type
        # unification can't introduce a stricter common type
        return F.when(~_variant_truthy(v), _lit_col(spec[2], dt)).otherwise(
            _scalar_out_col(col, path, dt)
        )
    if kind == "strcat":
        return _strcat_col(spec[1], lambda p: F.get_json_object(col, _json_path(p))).cast(dt)
    if kind == "strinterp":
        segs = [
            F.lit(val)
            if k == "lit"
            else _interp_view(k, F.get_json_object(col, _json_path(val)), _var_at(dv, val))
            for k, val in spec[1]
        ]
        return F.concat(*segs).cast(dt)
    if kind == "length":
        return _variant_length(v).try_cast(dt)
    if kind == "keyssorted":
        return _variant_keys(v).try_cast(dt)
    if kind == "keysunsorted":
        return _keys_unsorted_col(raw, v).try_cast(dt)
    if kind == "strpred":
        return _string_pred_col(raw, spec[2], spec[3]).cast(dt)
    if kind == "capture":
        # one regexp_extract per declared named group (group index =
        # order of appearance: the gate admits only named groups)
        _, _, pat, names = spec
        return F.struct(
            *[
                F.regexp_extract(raw, pat, names.index(f.name) + 1).alias(f.name)
                for f in dt.fields
            ]
        )
    if kind == "arrayfn":
        return _arrayfn_col(raw, spec[2], spec[3], dt).try_cast(dt)
    if kind == "slicearr":
        return _slice_col(raw, spec[2], spec[3], dt).try_cast(dt)
    if kind == "reduce":
        return _reduce_col(F.from_json(raw, T.ArrayType(T.DoubleType())), spec[2], spec[3]).try_cast(dt)
    if kind == "splitidx":
        parts = F.split(raw, _java_quote(spec[2]), -1)
        return F.try_element_at(parts, F.lit(spec[3] + 1)).cast(dt)
    if kind == "splitarr":
        # limit -1 keeps trailing empty fields, matching jq
        return F.split(raw, _java_quote(spec[2]), -1).cast(dt)
    # ifelse
    cond = None
    for item in spec[1]:
        cc = _cond_col(item, lambda ff: _filter_col(col, dv, ff))
        cond = cc if cond is None else (cond & cc)

    def branch(sp):
        return _lit_col(sp[1], dt) if sp[0] == "lit" else _scalar_out_col(col, sp[1], dt)

    return F.when(cond, branch(spec[2])).otherwise(branch(spec[3]))


def _null_doc_rows(program: str, decls: tuple) -> Optional[list]:
    """The rows jq gives for the null document, when they are scalars;
    None when jq fails on it."""
    from .udtf import run_jq

    try:
        rows = run_jq(program, None, *decls)
    except Exception:
        return None
    scalar = (type(None), bool, int, float, str)
    return rows if all(isinstance(v, scalar) for r in rows for v in r) else None


def _divides_by_value(ast: AST) -> bool:
    """Whether a reduce update divides by anything but a nonzero literal."""
    if ast[0] == "neg":
        return _divides_by_value(ast[1])
    if ast[0] != "binop":
        return False
    d = ast[3]
    if ast[1] == "/" and not (d[0] == "literal" and d[1] != 0):
        return True
    return _divides_by_value(ast[2]) or _divides_by_value(d)


class _SchemaConflict(Exception):
    """A spec no builder evaluates exactly into its declared type: the
    program falls back to the Python tier."""


class NativePlan:
    """Executable plan: apply(df, column, python_tier, outer) →
    DataFrame with the same shape jq_explode produces."""

    def __init__(self, ir: NativeIR, decls: tuple[str, ...], program: str):
        self.ir = ir
        self.decls = decls
        self.schema, self.single = parse_output_schema(list(decls))
        _validate_new_specs(ir.project, self.schema)
        self.null_rows = _null_doc_rows(program, decls)
        # recipe cache: (applicationId, column, outer, binding column)
        # → built Columns (see apply); the lock serializes builds so
        # concurrent sessions build each recipe once
        self._recipes: dict = {}
        import threading

        self._build_lock = threading.Lock()

    def _build_scalar(self, col: Column, dv: Column) -> list:
        """Build the scalar-path output Columns over the doc column and
        its bound variant ``dv``, one per declared field."""
        ir = self.ir
        fields = self.schema.fields
        if ir.single_call is not None:
            # ``.path | keys`` / ``keys_unsorted`` / ``length`` as the
            # whole program (r11), into the one declared column
            path = ir.single_path or ()
            v = _var_at(dv, path)
            if ir.single_call == "keys":
                kc = _variant_keys(v)
            elif ir.single_call == "length":
                kc = _variant_length(v)
            else:
                kc = _keys_unsorted_col(F.get_json_object(col, _json_path(path)), v)
            return [kc.try_cast(fields[0].dataType)]
        if self.single and ir.project is None:
            # (wrapped_single projects take the project branch: the
            # synthetic {col1: <tail>} form)
            return [_scalar_path_col(col, dv, ir.single_path or (), fields[0].dataType)]
        if ir.project is None:
            # bare path + NAME:TYPE decls → destructure result object
            base = ir.single_path or ()
            return [_scalar_path_col(col, dv, base + (f.name,), f.dataType) for f in fields]
        out = []
        for fdt in fields:
            spec = ir.project.get(fdt.name)
            if spec is None:
                out.append(F.lit(None).cast(fdt.dataType))
            else:
                out.append(_scalar_spec_col(col, dv, spec, fdt.dataType))
        return out

    def apply(
        self,
        df: DataFrame,
        column: str | Column,
        python_tier: Callable[[DataFrame], DataFrame],
        outer: bool = False,
    ) -> DataFrame:
        """Apply the plan to a DataFrame, routing per row.

        Every row binds its variant parse once.  Rows the route flag
        selects (`_python_rows`) — duplicate-key documents and rows
        whose text-read values hold number text — go through
        ``python_tier``, the exact Python tier; all other rows through
        the compiled Columns.  The two branches are concatenated by
        position (``unionByName`` rejects duplicate input column
        names), so rows of different input rows may come out in a
        different order than one tier alone would emit them; the rows
        of one input row keep jq's order.

        r14 optimization (guide §1.2 "per-task work", driver-side):
        every Column the plan needs is built ONCE per (Spark context,
        column name, outer, binding column) and cached on the plan
        instance — building the tree costs hundreds of py4j round
        trips, replaying the cached recipe costs a handful of
        where/withColumn/select calls.  Recipes are unresolved
        expression trees, the same objects a fresh build would
        produce.  Keyed by applicationId so a restarted context (new
        JVM) never sees another JVM's py4j handles; Column-typed doc
        inputs (no stable identity) skip the cache."""
        col = F.col(column) if isinstance(column, str) else column
        # the binding column is fresh: no input column has its name
        bind = _BIND_COL
        while bind in df.columns:
            bind += "_"
        key = None
        if isinstance(column, str):
            try:
                appid = df.sparkSession.sparkContext.applicationId
            except Exception:  # pragma: no cover - defensive
                appid = None
            if appid is not None:
                key = (appid, column, outer, bind)
        with self._build_lock:
            recipe = self._recipes.get(key) if key is not None else None
            if recipe is None:
                recipe = self._build(col, bind, outer)
                if key is not None:
                    if len(self._recipes) > 64:  # stale-context bound
                        self._recipes.clear()
                    self._recipes[key] = recipe
        to_python, conds, out_cols = recipe
        # one-element explode: array() is never NULL, so exactly one
        # row comes out per input row
        bound = df.select(
            "*",
            F.explode(F.array(F.struct(F.try_parse_json(col).alias("v")))).alias(
                bind
            ),
        )
        out = bound.where(~to_python)
        for c in conds:
            out = out.where(c)
        out = out.select("*", *out_cols).drop(F.col(bind))
        return out.union(python_tier(bound.where(to_python).drop(F.col(bind))))

    def _build(self, col: Column, bind: str, outer: bool) -> tuple:
        """The plan's Columns over doc column ``col``, bound per row as
        ``bind``: (route flag, select conditions, output Columns).  Pure
        Column construction — no DataFrame access — so the result is
        cacheable and replayable (`apply`)."""
        ir = self.ir
        dv = F.col(bind)["v"]
        conds = [_cond_col(f, lambda ff: _filter_col(col, dv, ff)) for f in ir.filters]
        out_cols = self._build_scalar(col, dv)
        # corrupt and NULL cells bind jq's null document: they take the
        # row jqlib gave for it at compile time, or the Python tier
        # when that cannot be replayed (jq failed, or outer needs a row)
        rows = self.null_rows
        if rows is None or (outer and not rows) or len(rows) > 1:
            rows = None
        elif not rows:
            conds.append(dv.isNotNull())
        else:
            conds = [dv.isNull() | c for c in conds]
            out_cols = [
                F.when(dv.isNull(), F.lit(val).cast(f.dataType)).otherwise(c)
                for f, val, c in zip(self.schema.fields, rows[0], out_cols)
            ]
        if outer and conds:
            # LATERAL VIEW OUTER keeps a row select() drops, with NULLs
            keep = conds[0]
            for c in conds[1:]:
                keep = keep & c
            out_cols, conds = [F.when(keep, c) for c in out_cols], []
        out_cols = [c.alias(f.name) for f, c in zip(self.schema.fields, out_cols)]
        to_python = _python_rows(col, dv, self._guards(), rows is None)
        return to_python, conds, out_cols

    def _guards(self) -> _Guards:
        """The plan's type guards (`_Guards`); paths are relative to
        the document."""
        ir = self.ir
        fields = self.schema.fields
        g = _Guards()
        for f in _each_filter(ir.filters):
            g.filter(f)
        if ir.single_call is not None:
            kind = "length" if ir.single_call == "length" else "keyssorted"
            g.spec((kind, ir.single_path), fields[0].dataType)
        elif ir.project is None:
            pairs = (
                [(ir.single_path, fields[0].dataType)]
                if self.single
                else [(ir.single_path + (f.name,), f.dataType) for f in fields]
            )
            for p, dt in pairs:
                g.slot(p, dt)
        else:
            for f in fields:
                spec = ir.project.get(f.name)
                if spec is not None:
                    g.spec(spec, f.dataType)
        return g


_PLAN_CACHE: dict[tuple[str, tuple[str, ...]], Optional[NativePlan]] = {}


def compile_native(program: str, decls: tuple[str, ...]) -> Optional[NativePlan]:
    """Try to compile a jq program + declarations to a native plan.

    Returns None when the program falls outside the simple-path
    subset (the caller falls back to the Python UDTF tier).

    Memoized (r14 opt): plans are pure functions of (program, decls)
    and hold no data or session state, so repeated jq_explode calls —
    the bench re-runs every query several times, a production driver
    re-plans per micro-batch — share one plan instance, whose apply()
    additionally caches its built Column recipe (the expensive part).
    Mirrors the Python tier's _QUERY_CACHE in udtf.py."""
    key = (program, tuple(decls))
    if key in _PLAN_CACHE:
        return _PLAN_CACHE[key]
    plan = _compile_native_uncached(program, decls)
    if len(_PLAN_CACHE) > 4096:  # runaway-workload bound
        _PLAN_CACHE.clear()
    _PLAN_CACHE[key] = plan
    return plan


def _compile_native_uncached(
    program: str, decls: tuple[str, ...]
) -> Optional[NativePlan]:
    try:
        schema, single = parse_output_schema(list(decls))
    except Exception:
        return None
    ir = analyze_program(program)
    if ir is None and single and not isinstance(
        schema.fields[0].dataType, T.MapType
    ):
        # r11 jq1-style widening: bare single-TYPE programs with a
        # projection-value tail compile through a synthetic one-field
        # wrap.  Map decls stay Python-tier: M4 maps non-objects to
        # the EMPTY map, which the project spec compilers don't model
        ir = analyze_program_single_wrap(program, schema.fields[0].name)
    if ir is None:
        return None
    # single-TYPE form with a USER object construct would marshal the
    # whole object into col1 — not covered by this tier (the synthetic
    # wrapped_single project is the deliberate exception)
    if single and ir.project is not None and not ir.wrapped_single:
        return None
    if ir.single_call is not None and (
        # keys/length output is a non-object value, which the
        # marshaller routes into a column only in the single-TYPE
        # decl form — NAMED decls are object-key lookups and yield
        # NULL for it (pinned by the bare-vs-named differential in
        # test_native).  keys compile only into array-typed decls (a
        # string decl would take Spark's cast text where the Python
        # tier marshals jq's text); length only into numeric ones.
        not single
        or not isinstance(
            schema.fields[0].dataType,
            _NUMERIC_TYPES if ir.single_call == "length" else T.ArrayType,
        )
    ):
        return None
    try:
        return NativePlan(ir, tuple(decls), program)
    except _SchemaConflict:
        # a (function, declared type) pair no builder evaluates exactly
        # (`_validate_new_specs`); the Python tier handles it
        return None
