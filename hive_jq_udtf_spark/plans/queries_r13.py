"""Round-13 queries.

- ``jq_native_growth2`` — driver gate for the r13 native-tier growth
  (VERDICT r12 #5): array/string SLICES ``.a[lo:hi]`` (negatives from
  the end, open ends, exact-typed variant gate), ``ltrimstr``/
  ``rtrimstr`` composed inside fn chains, and ``test("re")`` in select
  position (Oniguruma→re-portable regex compiled to ``rlike``).  All
  four programs run ``native="require"`` — only routed rows reach
  their plans' Python node — over JSON synthesized from
  raw ``documents`` columns, so the plain-SQL oracle recomputes every
  value from those columns without parsing any JSON (a wrong slice
  boundary, an unstripped prefix, or a regex mismatch is a value
  mismatch, not just a row-count change).

Registers into plans.queries.QUERIES/ORACLES on import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..udtf import jq_explode
from .queries import ORACLES, QUERIES


def q_jq_native_growth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four r13-growth jq constructs compiled natively, one output.

    Per document the JSON is ``{"title": source-lang, "path":
    "pfx/<source>/end", "ids": [doc_id, n_chars, doc_id%7,
    n_chars%13, doc_id%3]}``:

    * ``.ids[1:4]`` / ``.ids[-2:]`` — ARRAY slices with a positive
      window and a negative-from-the-end window; the output folds the
      sliced elements so a one-off boundary error changes the sum;
    * ``.title[0:4]`` / ``.title[-2:]`` — STRING slices (codepoint
      substring); the tail slice must equal the raw ``lang`` column
      (a filter, so a boundary error drops rows);
    * ``.path | ltrimstr("pfx/") | rtrimstr("/end") | ascii_upcase``
      — both trims COMPOSED in a chain (each conditional on the
      affix actually matching) recover the raw source;
    * ``select(.title | test("^src1[0-9]-"))`` — regex select
      compiled to ``rlike``.

    Scale shape: four pruned scans of documents, each a narrow
    per-row Catalyst projection, then one low-cardinality (op, k)
    groupBy — map-side partials, one small shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.to_json(
            F.struct(
                F.concat_ws("-", "source", "lang").alias("title"),
                F.concat(F.lit("pfx/"), "source", F.lit("/end")).alias(
                    "path"
                ),
                F.array(
                    F.col("doc_id").cast("double"),
                    F.col("n_chars").cast("double"),
                    (F.col("doc_id") % 7).cast("double"),
                    (F.col("n_chars") % 13).cast("double"),
                    (F.col("doc_id") % 3).cast("double"),
                ).alias("ids"),
            )
        ).alias("doc"),
    )
    fold = "aggregate({0}, 0D, (acc, x) -> acc + x)"
    a = (
        jq_explode(
            j,
            "doc",
            "{mid: .ids[1:4], tail: .ids[-2:]}",
            "mid:array<double>",
            "tail:array<double>",
            native="require",
        )
        .where((F.size("mid") == 3) & (F.size("tail") == 2))
        .groupBy(F.lit("slice_arr").alias("op"), F.col("lang").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr(fold.format("mid")) + F.expr(fold.format("tail"))
            ).alias("s"),
        )
    )
    b = (
        jq_explode(
            j,
            "doc",
            "{head: .title[0:4], piece: .title[-2:]}",
            "head:string",
            "piece:string",
            native="require",
        )
        # r14 (ADVICE r13 low): the piece == lang proof of the negative
        # slice only holds for 2-char langs — make that precondition
        # EXPLICIT on both legs (the oracle carries the same
        # length(lang) = 2 predicate) instead of encoding an
        # undocumented dataset-shape invariant.
        .where((F.length("lang") == 2) & (F.col("piece") == F.col("lang")))
        .groupBy(F.lit("slice_str").alias("op"), F.col("head").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("double")).alias("s"),
        )
    )
    c = (
        jq_explode(
            j,
            "doc",
            '{t: (.path | ltrimstr("pfx/") | rtrimstr("/end")'
            " | ascii_upcase)}",
            "t:string",
            native="require",
        )
        .groupBy(F.lit("trims").alias("op"), F.col("t").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("doc_id").cast("double")).alias("s"),
        )
    )
    d = (
        jq_explode(
            j,
            "doc",
            'select(.title | test("^src1[0-9]-")) | {title: .title}',
            "title:string",
            native="require",
        )
        .groupBy(F.lit("test_re").alias("op"), F.col("lang").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("double")).alias("s"),
        )
    )
    return a.unionAll(b).unionAll(c).unionAll(d).orderBy("op", "k")


# every value recomputes from raw columns: ids[1:4] sums to
# n_chars + doc_id%7 + n_chars%13 and ids[-2:] to n_chars%13 +
# doc_id%3 (a boundary error changes the per-group sum); the string
# head is substr(source-lang, 1, 4) and the tail IS lang (2-char
# langs — the filter proves the negative slice); the trims recover
# upper(source); the regex select matches sources src10-src19
_ORACLE_JQ_NATIVE_GROWTH2 = """
WITH a AS (
  SELECT 'slice_arr' AS op, lang AS k, count(*) AS n,
         CAST(sum((n_chars + doc_id % 7 + n_chars % 13)
                  + (n_chars % 13 + doc_id % 3)) AS DOUBLE) AS s
  FROM documents GROUP BY lang
), b AS (
  SELECT 'slice_str' AS op,
         substr(source || '-' || lang, 1, 4) AS k,
         count(*) AS n, CAST(sum(n_chars) AS DOUBLE) AS s
  FROM documents WHERE length(lang) = 2
  GROUP BY substr(source || '-' || lang, 1, 4)
), c AS (
  SELECT 'trims' AS op, upper(source) AS k, count(*) AS n,
         CAST(sum(doc_id) AS DOUBLE) AS s
  FROM documents GROUP BY upper(source)
), d AS (
  SELECT 'test_re' AS op, lang AS k, count(*) AS n,
         CAST(sum(n_chars) AS DOUBLE) AS s
  FROM documents
  WHERE regexp_matches(source || '-' || lang, '^src1[0-9]-')
  GROUP BY lang
)
SELECT op, k, n, s FROM (
  SELECT * FROM a UNION ALL SELECT * FROM b
  UNION ALL SELECT * FROM c UNION ALL SELECT * FROM d
) ORDER BY op, k
"""

QUERIES.update({"jq_native_growth2": q_jq_native_growth2})
ORACLES.update({"jq_native_growth2": _ORACLE_JQ_NATIVE_GROWTH2})
