"""Round-12 queries.

- ``jq_native_growth`` — driver gate for the r12 growth (VERDICT r11
  #5): ``contains`` in select position, whole-element ``has`` under
  an iterate, and full ``split`` arrays in projections.  The two
  scalar programs run ``native="require"`` (only routed rows reach
  their plans' Python node); the iterating one runs on the Python
  tier.  All read JSON synthesized from raw ``documents`` columns, so
  the plain-SQL oracle recomputes every value from those columns
  without parsing any JSON (a dropped row, a first-occurrence ``has`` miss, or a
  wrong split boundary is a value mismatch).

Registers into plans.queries.QUERIES/ORACLES on import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..udtf import jq_explode
from .queries import ORACLES, QUERIES


def q_jq_native_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three r12-growth jq constructs, one output.

    Per document the JSON is ``{"title": source-lang, "csv":
    "lang,source,n_chars", "tags": [{"id":…, "w":…}, {"w":1}]}``:

    * ``select(.title | contains("en"))`` — contains joins the
      select-position string predicates (scalar tier);
    * ``.tags[] | select(has("id"))`` — a whole-element predicate
      under an iterate, on the Python tier (only the first tags entry
      carries "id", so ``has`` prunes exactly one of two exploded
      rows per doc);
    * ``.csv | split(",")`` — the full split array (``splitarr``);
      the output pins both the part count and the first part.

    Scale shape: three pruned scans of documents, each a narrow
    per-row projection or jq pass, then one low-cardinality (op,
    lang) groupBy — map-side partials, one small shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.to_json(
            F.struct(
                F.concat_ws("-", "source", "lang").alias("title"),
                F.concat_ws(
                    ",", "lang", "source", F.col("n_chars").cast("string")
                ).alias("csv"),
                F.array(
                    F.create_map(
                        F.lit("id"),
                        F.col("doc_id").cast("double"),
                        F.lit("w"),
                        F.col("n_chars").cast("double"),
                    ),
                    F.create_map(F.lit("w"), F.lit(1.0)),
                ).alias("tags"),
            )
        ).alias("doc"),
    )
    a = (
        jq_explode(
            j,
            "doc",
            'select(.title | contains("en")) | {title: .title}',
            "title:string",
            native="require",
        )
        .groupBy(F.lit("contains").alias("op"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("double")).alias("s"),
        )
    )
    b = (
        jq_explode(
            j,
            "doc",
            '.tags[] | select(has("id")) | {id: .id, w: .w}',
            "id:double",
            "w:double",
        )
        .groupBy(F.lit("has_id").alias("op"), "lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
    )
    c0 = jq_explode(
        j,
        "doc",
        "{parts: (.csv | split(\",\"))}",
        "parts:array<string>",
        native="require",
    )
    c = (
        c0.where(F.element_at("parts", 1) == F.col("lang"))
        .groupBy(F.lit("split").alias("op"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("parts").cast("double")).alias("s"),
        )
    )
    return a.unionAll(b).unionAll(c).orderBy("op", "lang")


# every value recomputes from the raw columns: `contains` is LIKE on
# the same concatenation, `has_id` counts exactly one tags element
# per doc (sum of the id values == sum(doc_id)), `split` of
# "lang,source,n_chars" has exactly 3 parts with part 1 == lang
# (sources/langs in the testdata never contain commas, asserted by
# the n==count equality itself: a comma would change the part count)
_ORACLE_JQ_NATIVE_GROWTH = """
WITH a AS (
  SELECT 'contains' AS op, lang, count(*) AS n,
         CAST(sum(n_chars) AS DOUBLE) AS s
  FROM documents
  WHERE (source || '-' || lang) LIKE '%en%'
  GROUP BY lang
), b AS (
  SELECT 'has_id' AS op, lang, count(*) AS n,
         CAST(sum(doc_id) AS DOUBLE) AS s
  FROM documents GROUP BY lang
), c AS (
  SELECT 'split' AS op, lang, count(*) AS n,
         CAST(3 * count(*) AS DOUBLE) AS s
  FROM documents GROUP BY lang
)
SELECT op, lang, n, s FROM (
  SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c
) ORDER BY op, lang
"""

QUERIES.update({"jq_native_growth": q_jq_native_growth})
ORACLES.update({"jq_native_growth": _ORACLE_JQ_NATIVE_GROWTH})
