"""Round-14 queries.

- ``jq_native_growth3`` — driver gate for the r14 native-tier growth
  (VERDICT r13 #4): ``sub`` (FIRST-occurrence regex replace, spliced
  around ``regexp_instr``) inside fn chains, and ``capture`` with
  named groups compiled to per-group ``regexp_extract`` under a
  participation-safe pattern gate (declared struct resolves groups by
  NAME, so a reordered declaration is part of the gate).  The whole
  program runs ``native="require"`` — one Catalyst pass, with only
  routed rows reaching the plan's Python node — over JSON synthesized
  from raw ``documents`` columns, so the plain-SQL oracle recomputes
  every value from those columns without parsing JSON.  The ``sub``
  leg is first-occurrence-SENSITIVE: ``.code`` carries two digit runs
  and the filter pins the second run untouched (a gsub-like
  over-replace drops every row).

Registers into plans.queries.QUERIES/ORACLES on import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..udtf import jq_explode
from .queries import ORACLES, QUERIES


def q_jq_native_growth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 native growth in ONE native jq plan (single scan, no union).

    Per document the JSON is ``{"title": "<source>-<lang>", "code":
    "id<doc_id>x<n_chars>"}``:

    * ``s1 = .code | sub("[0-9]+"; "#")`` — replaces ONLY the first
      digit run: ``id#x<n_chars>``.  The filter equates the tail with
      the raw ``n_chars`` text, so replacing the second run too (gsub
      semantics) or splicing at the wrong offset drops rows;
    * ``s2 = .title | sub("-"; "_") | ascii_upcase`` — sub composed
      inside a chain; recovers ``upper(source)_upper(lang)`` (sources/
      langs carry no ``-``, so first-occurrence == only occurrence);
    * ``cap = .code | capture("^id(?<a>[0-9]+)x(?<b>[0-9]+)$")`` —
      named groups as a struct, declared REORDERED (``b`` before
      ``a``) to pin resolve-by-name; sums of the parsed groups equal
      sums of the raw columns.

    Scale shape: one pruned scan of documents, one per-row Catalyst
    projection, one low-cardinality groupBy — map-side partials, one
    small shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        "n_chars",
        F.to_json(
            F.struct(
                F.concat_ws("-", "source", "lang").alias("title"),
                F.concat(
                    F.lit("id"),
                    F.col("doc_id").cast("string"),
                    F.lit("x"),
                    F.col("n_chars").cast("string"),
                ).alias("code"),
            )
        ).alias("doc"),
    )
    out = jq_explode(
        j,
        "doc",
        '{s1: (.code | sub("[0-9]+"; "#")),'
        ' s2: (.title | sub("-"; "_") | ascii_upcase),'
        ' cap: (.code | capture("^id(?<a>[0-9]+)x(?<b>[0-9]+)$"))}',
        "s1:string",
        "s2:string",
        "cap:struct<b:string,a:string>",
        native="require",
    )
    return (
        out.where(
            F.col("s1")
            == F.concat(F.lit("id#x"), F.col("n_chars").cast("string"))
        )
        .groupBy(F.col("s2").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cap.a").cast("double")).alias("sa"),
            F.sum(F.col("cap.b").cast("double")).alias("sb"),
        )
        .orderBy("k")
    )


# every value recomputes from raw columns: the sub filter keeps ALL
# rows iff only the FIRST digit run was replaced; k is the chained
# sub+upcase text; the capture groups parse back to doc_id / n_chars
_ORACLE_JQ_NATIVE_GROWTH3 = """
SELECT upper(source) || '_' || upper(lang) AS k,
       count(*) AS n,
       CAST(sum(doc_id) AS DOUBLE) AS sa,
       CAST(sum(n_chars) AS DOUBLE) AS sb
FROM documents
GROUP BY upper(source) || '_' || upper(lang)
ORDER BY k
"""

QUERIES.update({"jq_native_growth3": q_jq_native_growth3})
ORACLES.update({"jq_native_growth3": _ORACLE_JQ_NATIVE_GROWTH3})
