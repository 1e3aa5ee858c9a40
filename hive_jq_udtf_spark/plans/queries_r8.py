"""Round-8 queries.

- ``jq_native_limit`` — generator laziness: ``limit(n; .[])`` and
  ``first(...)`` pull only the elements they emit, and ``.[]`` over an
  OBJECT iterates its values in document key order (the reference
  reaches the same behavior through jackson-jq's limit/first builtins
  and relies on Hive for everything after the UDTF).
- ``embedding_pca_topk`` — top-k principal components by deflated
  power iteration (VERDICT r7 #7): the same distributed d x d moment
  aggregate as embedding_pca_power, iterated driver-side with
  deflation between components.

Registers into plans.queries.QUERIES/ORACLES on import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .queries import ORACLES, QUERIES

# ---------------------------------------------------------------------------
# jq_native_limit — limit/first + object iteration
# ---------------------------------------------------------------------------


def q_jq_native_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three iterating programs over the same per-document JSON:
    ``limit(3; .toks[])`` (first 3 tokens), ``first(.toks[])`` (=
    limit 1), and ``.kv[]`` (value iteration over an OBJECT, in
    document key order).  Iterating programs run on the Python tier,
    which measured faster than the former native explode plans."""
    from ..udtf import jq_explode

    docs = load_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.split(F.substring("text", 1, 60), " ").alias("toks"),
                F.struct(
                    F.col("lang").alias("l"), F.col("source").alias("s")
                ).alias("kv"),
            )
        ).alias("doc"),
    )
    # no min_parallelism: the three branches already scan in parallel,
    # and a repartition of this one-row-group input measured slower
    lim = jq_explode(j, "doc", "limit(3; .toks[])", "string")
    fst = jq_explode(j, "doc", "first(.toks[])", "string")
    obj = jq_explode(j, "doc", ".kv[]", "string")
    out = (
        lim.select("doc_id", F.lit("lim").alias("k"), F.col("col1").alias("v"))
        .unionByName(
            fst.select(
                "doc_id", F.lit("first").alias("k"), F.col("col1").alias("v")
            )
        )
        .unionByName(
            obj.select(
                "doc_id", F.lit("obj").alias("k"), F.col("col1").alias("v")
            )
        )
    )
    return out.orderBy("doc_id", "k", "v").limit(400)


_ORACLE_JQ_NATIVE_LIMIT = """
WITH base AS (
  SELECT doc_id, string_split(substr(text, 1, 60), ' ') AS toks, lang, source
  FROM documents),
u AS (
  SELECT doc_id, 'lim' AS k, unnest(toks[1:3]) AS v FROM base
  UNION ALL SELECT doc_id, 'first' AS k, toks[1] AS v FROM base
  UNION ALL SELECT doc_id, 'obj' AS k, lang AS v FROM base
  UNION ALL SELECT doc_id, 'obj' AS k, source AS v FROM base)
SELECT doc_id, k, v FROM u ORDER BY doc_id, k, v LIMIT 400
"""

QUERIES["jq_native_limit"] = q_jq_native_limit
ORACLES["jq_native_limit"] = _ORACLE_JQ_NATIVE_LIMIT


# ---------------------------------------------------------------------------
# embedding_pca_topk — top-k principal components by deflated power
# iteration (VERDICT r7 #7)
# ---------------------------------------------------------------------------

_PCA_K = 4
_PCA_TOPK_ITERS = 12


def q_embedding_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} principal components of the embedding corpus — the 2-8
    axes whitening / rotation / drift-monitoring pipelines actually
    want (embedding_pca_power stops at the dominant one).  One row
    per (component, dimension) with the sign-pinned loading (6 dp)
    and the component's Rayleigh eigenvalue (4 dp).

    Scale audit: identical to embedding_pca_power — ONE distributed
    n*d^2/2 codegen moment aggregation, one O(d^2) collect, then
    driver-side power iteration; each extra component costs only a
    d^2 driver-side deflation, nothing corpus-sized.  The oracle
    unrolls every power step AND the deflation products in SQL from
    the identically rounded matrix (same (lam*v_i)*v_j association),
    so equality holds to ~1e-13 against the 6-dp output round."""
    from ..operators.pca import power_iteration_topk

    emb = load_table(spark, sf_dir, "embeddings")
    comps, d = power_iteration_topk(
        emb, k=_PCA_K, vec_col="embedding", iters=_PCA_TOPK_ITERS
    )
    rows = [
        (c + 1, i, round(v[i], 6) + 0.0, round(lam, 4) + 0.0)
        for c, (v, lam) in enumerate(comps)
        for i in range(d)
    ]
    return spark.createDataFrame(
        rows, "comp int, dim int, loading double, eigval double"
    ).orderBy("comp", "dim")


def _pca_topk_chain(k: int = _PCA_K, iters: int = _PCA_TOPK_ITERS):
    """The WITH-clause body that rebuilds the driver's deflated power
    iteration in SQL (shared by the pca_topk oracle and the r9
    whitening oracle): returns (header_ctes, per_component_parts,
    [(v_name, lam_name, sgn_name), ...])."""
    header = """flat AS MATERIALIZED (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)),
means AS (SELECT i, avg(x) AS mu FROM flat GROUP BY 1),
prods AS (
  SELECT a.i AS i, b.i AS j, avg(a.x * b.x) AS exy
  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2),
cov_ut AS (
  SELECT p.i, p.j, round(p.exy - mi.mu * mj.mu, 6) AS c
  FROM prods p JOIN means mi ON p.i = mi.i JOIN means mj ON p.j = mj.i),
cov1 AS MATERIALIZED (SELECT i, j, c FROM cov_ut
        UNION ALL SELECT j AS i, i AS j, c FROM cov_ut WHERE i < j),
dd AS (SELECT max(i) + 1 AS d FROM cov1)"""
    parts = []
    names = []
    for c in range(1, k + 1):
        if c > 1:
            parts.append(
                f"cov{c} AS MATERIALIZED (SELECT m.i, m.j,"
                f" m.c - lam{c - 1}.l * va.v * vb.v AS c"
                f" FROM cov{c - 1} m"
                f" JOIN v{c - 1}_{iters} va ON va.i = m.i"
                f" JOIN v{c - 1}_{iters} vb ON vb.i = m.j"
                f" CROSS JOIN lam{c - 1})"
            )
        parts.append(
            f"v{c}_0 AS (SELECT i, 1.0 / sqrt(d) AS v"
            f" FROM (SELECT DISTINCT i FROM cov1) CROSS JOIN dd)"
        )
        prev = f"v{c}_0"
        for t in range(1, iters + 1):
            parts.append(
                f"w{c}_{t} AS MATERIALIZED (SELECT cov{c}.i AS i,"
                f" sum(cov{c}.c * {prev}.v) AS w"
                f" FROM cov{c} JOIN {prev} ON cov{c}.j = {prev}.i GROUP BY 1),\n"
                f"n{c}_{t} AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS n FROM w{c}_{t}),\n"
                f"v{c}_{t} AS MATERIALIZED (SELECT i, w / n AS v"
                f" FROM w{c}_{t} CROSS JOIN n{c}_{t})"
            )
            prev = f"v{c}_{t}"
        parts.append(
            f"wf{c} AS MATERIALIZED (SELECT cov{c}.i AS i,"
            f" sum(cov{c}.c * {prev}.v) AS w"
            f" FROM cov{c} JOIN {prev} ON cov{c}.j = {prev}.i GROUP BY 1),\n"
            f"lam{c} AS MATERIALIZED (SELECT sum({prev}.v * wf{c}.w) AS l"
            f" FROM {prev} JOIN wf{c} ON {prev}.i = wf{c}.i),\n"
            f"sgn{c} AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s"
            f" FROM {prev} ORDER BY abs(v) DESC, i LIMIT 1)"
        )
        names.append((prev, f"lam{c}", f"sgn{c}"))
    return header, parts, names


def _gen_pca_topk_oracle(k: int = _PCA_K, iters: int = _PCA_TOPK_ITERS) -> str:
    # deflation replays the same per-entry (lam * v_i) * v_j products
    # the driver subtracts, row-wise on all d^2 entries (see
    # _pca_topk_chain)
    header, parts, names = _pca_topk_chain(k, iters)
    selects = []
    for c, (prev, lam, sgn) in enumerate(names, start=1):
        selects.append(
            f"SELECT {c} AS comp, CAST({prev}.i AS INTEGER) AS dim,"
            f" round({sgn}.s * {prev}.v, 6) + 0.0 AS loading,"
            f" round({lam}.l, 4) + 0.0 AS eigval"
            f" FROM {prev} CROSS JOIN {sgn} CROSS JOIN {lam}"
        )
    chain = ",\n".join(parts)
    union = "\nUNION ALL ".join(selects)
    return f"""
WITH {header},
{chain}
SELECT comp, dim, loading, eigval FROM ({union})
ORDER BY comp, dim
"""


QUERIES["embedding_pca_topk"] = q_embedding_pca_topk
ORACLES["embedding_pca_topk"] = _gen_pca_topk_oracle()
