"""Driver-contract query definitions (SURVEY §5 item 5, §7 steps 7-8).

Every entry couples a Spark DataFrame query with an equivalent
ANSI-SQL oracle that DuckDB runs over the same parquet tables; the
driver hash-compares them at sf0.01 (CORRECTNESS_r{N}.json).

Scale notes (100 TB design):
- jq extraction queries keep filters/aggregation AFTER a Generate
  that Catalyst prunes; the native tier ones never leave the JVM.
- joins declare the small side via broadcast() (region/nation/
  customer at TPC-H ratios are the canonical broadcast dims).
- the near-dup join is the inverted-index shingle join (explode →
  hash-join on shingle → pair aggregation), the standard distributed
  exact algorithm; MinHash-LSH (operators/dedup.py) is the
  candidate-pruning variant for when pair cardinality explodes.
- float aggregates are rounded to 4dp on BOTH sides so value hashes
  are stable across summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from ..udtf import jq_explode, register


# ---------------------------------------------------------------------------
# jq-engine queries over events.props
# ---------------------------------------------------------------------------


def q_jq_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: lateral-explode props through the jq UDTF (Python
    tier forced — this is the engine correctness probe), aggregate
    per event_type.  Direct restatement of README.md:121."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(events, "props", "{k: .k}", "k:int", native="never",
        min_parallelism=spark.sparkContext.defaultParallelism)
    return (
        x.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def q_jq_native_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same extraction via the native Catalyst tier (§4.2; only routed
    rows reach the plan's Python node); oracle identical to the UDTF
    variant."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(events, "props", "{k: .k}", "k:int", native="require")
    return (
        x.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


_ORACLE_JQ_AGG = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_jq_select_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq select() semantics (J6): rows with k > 50 only."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(events, "props", "select(.k > 50) | {k: .k}", "k:int", native="never",
        min_parallelism=spark.sparkContext.defaultParallelism)
    return (
        x.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("event_type")
    )


_ORACLE_JQ_SELECT = """
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events)
WHERE k > 50 GROUP BY event_type ORDER BY event_type
"""


def q_jq_multicol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column destructure + computed field (J10/J11/J17)."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events,
        "props",
        "{k: .k, big: (.k > 50), bucket: (.k % 10)}",
        "k:int",
        "big:boolean",
        "bucket:int",
        native="never",
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return (
        x.groupBy("big", "bucket")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("big", "bucket")
    )


_ORACLE_JQ_MULTICOL = """
SELECT k > 50 AS big, k % 10 AS bucket, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_jq_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N fan-out via the comma stream (J20): each row emits two."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events,
        "props",
        "{k: .k}, {k: (.k + 1000)}",
        "k:int",
        native="never",
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return x.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


_ORACLE_JQ_FANOUT = """
WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events),
u AS (SELECT k FROM k UNION ALL SELECT k + 1000 FROM k)
SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k, max(k) AS max_k FROM u
"""


def q_jq_error_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$error substitute-on-corrupt (D5, README.md:145-160): every
    10th row's JSON is truncated; the program substitutes k = -1."""
    events = load_table(spark, sf_dir, "events")
    corrupted = events.withColumn(
        "j",
        F.when(
            F.col("event_id") % 10 == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")),
    )
    x = jq_explode(
        corrupted,
        "j",
        "if $error == null then {k: .k} else {k: -1} end",
        "k:int",
        native="never",
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return (
        x.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") == -1, 1).otherwise(0)).alias("n_err"),
        )
        .orderBy("event_type")
    )


_ORACLE_JQ_ERROR = """
SELECT event_type, count(*) AS n,
       CAST(sum(CASE WHEN event_id % 10 = 0 THEN -1
                ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END) AS BIGINT) AS sum_k,
       CAST(sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_err
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_jq_single_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-TYPE form → auto-named col1 (D7/M10)."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(events, "props", ".k", "int", native="never",
        min_parallelism=spark.sparkContext.defaultParallelism)
    return x.agg(
        F.count("*").alias("n"),
        F.sum("col1").alias("sum_k"),
    )


_ORACLE_JQ_SINGLE = """
SELECT count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
FROM events
"""


def q_jq_tostring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 stringify rule: whole document as compact-JSON string."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(events, "props", ".", "string", native="never",
        min_parallelism=spark.sparkContext.defaultParallelism)
    return (
        x.groupBy("col1")
        .agg(F.count("*").alias("n"))
        .orderBy("col1")
        .limit(100)
    )


_ORACLE_JQ_TOSTRING = """
SELECT CAST(json_extract(props, '$') AS VARCHAR) AS col1, count(*) AS n
FROM events GROUP BY 1 ORDER BY 1 LIMIT 100
"""


def q_jq_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercise Tier-B builtins (keys/length/tostring/arith) through
    the UDTF on real rows."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events,
        "props",
        '{nk: (keys | length), ks: (keys | join(",")), '
        "kk: (.k | tostring), k2: ((.k + 1) * 2)}",
        "nk:int",
        "ks:string",
        "kk:string",
        "k2:int",
        native="never",
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return x.agg(
        F.sum("nk").alias("sum_nk"),
        F.max("ks").alias("max_ks"),
        F.max("kk").alias("max_kk"),
        F.sum("k2").alias("sum_k2"),
    )


_ORACLE_JQ_BUILTINS = """
WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
SELECT CAST(count(*) AS BIGINT) AS sum_nk,
       'k' AS max_ks,
       max(CAST(k AS VARCHAR)) AS max_kk,
       CAST(sum((k + 1) * 2) AS BIGINT) AS sum_k2
FROM k
"""


# ---------------------------------------------------------------------------
# Relational composition (§2.3 — host-engine operators around jq)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation on lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1999-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            # price sums reach ~e9 at sf0.1; round(double-sum, 4)
            # there is add-order-sensitive (see region_revenue note) —
            # sum exactly in DECIMAL, round, cast back
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(30,6)")), 4)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,6)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))), 4) AS DOUBLE)
         AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,6))), 4) AS DOUBLE)
         AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + aggregation + top-k (TPC-H Q3-shaped).
    customer is broadcast (small dim at every SF)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_ORACLE_TOP_REVENUE = """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: revenue per region (broadcast dims)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            # DECIMAL sum, not double: at sf0.1 the ~600k-term double
            # sum reaches 5.9e9, where round(..., 4) demands 17
            # significant digits — beyond double, so the shuffle's
            # nondeterministic add order flipped the last rounded
            # digit between runs.  Per-row product in double is
            # order-free; casting it to DECIMAL(30,6) (product has ≤4
            # true decimal digits, so the cast is unambiguous) makes
            # the SUM exact and order-independent on both engines.
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,6)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name")
    )


_ORACLE_REGION_REVENUE = """
SELECT r_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,6))), 4) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: each customer's 2 highest-value orders."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(30,6)")), 4)
            .cast("double")
            .alias("sum_top2_price"),
        )
    )


_ORACLE_WINDOW_TOPK = """
SELECT count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 4) AS DOUBLE)
         AS sum_top2_price
FROM (SELECT o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders)
WHERE rk <= 2
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over the nation/region hierarchy."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust = load_table(spark, sf_dir, "customer")
    j = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 4).alias("sum_bal"))
        .orderBy("r_name", "n_name")
    )


_ORACLE_ROLLUP = """
SELECT r_name, n_name, count(*) AS n, round(sum(c_acctbal), 4) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name, n_name
"""


def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers with orders vs high-balance customers."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    high_bal = cust.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    both = with_orders.intersect(high_bal)
    only_orders = with_orders.exceptAll(high_bal)
    return both.agg(F.count("*").alias("n_both")).crossJoin(
        only_orders.agg(F.count("*").alias("n_only_orders"))
    )


_ORACLE_SETOPS = """
SELECT
  (SELECT count(*) FROM (
      SELECT DISTINCT o_custkey FROM orders
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000)) AS n_both,
  (SELECT count(*) FROM (
      SELECT DISTINCT o_custkey FROM orders
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000)) AS n_only_orders
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join shapes."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_o = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    without_o = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return with_o.agg(F.count("*").alias("n_with")).crossJoin(
        without_o.agg(F.count("*").alias("n_without"))
    )


_ORACLE_SEMI_ANTI = """
SELECT
  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with,
  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without
"""


# ---------------------------------------------------------------------------
# LLM-pipeline operators (§2.6) over documents / embeddings
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_stats(docs)


_ORACLE_DEDUP_EXACT = """
SELECT count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dupes
FROM documents
"""


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup: keep min doc_id per 50-char prefix
    fingerprint; report survivors + removed counts."""
    from ..operators.dedup import fingerprint_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_dedup_stats(docs, prefix_len=50)


_ORACLE_DEDUP_FP = """
WITH fp AS (SELECT doc_id, md5(substr(text, 1, 50)) AS f FROM documents),
keep AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f)
SELECT (SELECT count(*) FROM keep) AS n_kept,
       (SELECT count(*) FROM fp) - (SELECT count(*) FROM keep) AS n_removed
"""


def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs (threshold 0.8) via the
    distributed inverted-index shingle join."""
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


_ORACLE_NEARDUP = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
s AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 2)) AS i, ts FROM t),
g AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh FROM s),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
          FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT i AS doc_a, j AS doc_b,
       round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
FROM inter
JOIN sz na ON na.doc_id = i
JOIN sz nb ON nb.doc_id = j
WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8
ORDER BY doc_a, doc_b
"""


def q_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 5 against
    the rest — JVM-side higher-order functions, no Python."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    corpus = emb.where(F.col("vec_id") >= 5)
    return brute_force_topk(queries, corpus, k=5).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 4).alias("cosine")
    ).orderBy("query_id", "rank")


_ORACLE_SIMSEARCH = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 5),
s AS (SELECT query_id, neighbor_id,
             list_cosine_similarity(qe, ce) AS cosine
      FROM q CROSS JOIN c),
r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, round(cosine, 4) AS cosine
FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_stats

    docs = load_table(spark, sf_dir, "documents")
    return token_stats(docs)


_ORACLE_TEXT_STATS = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(avg(n_chars), 4) AS avg_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    return quality_scores(docs)


_ORACLE_QUALITY = """
WITH s AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         n_chars,
         round(len(string_split(text, ' ')) * 1.0
               / NULLIF(n_chars, 0), 4) AS tok_density,
         CASE WHEN len(string_split(text, ' ')) >= 20
               AND n_chars BETWEEN 50 AND 5000 THEN 1 ELSE 0 END AS passes
  FROM documents)
SELECT lang,
       CAST(sum(passes) AS BIGINT) AS n_pass,
       CAST(count(*) - sum(passes) AS BIGINT) AS n_fail,
       round(avg(tok_density), 4) AS avg_density
FROM s GROUP BY lang ORDER BY lang
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import doc_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprints(docs).orderBy("doc_id").limit(200)


_ORACLE_FINGERPRINTS = """
SELECT doc_id,
       md5(text) AS content_hash,
       md5(substr(text, 1, 64)) AS prefix_hash,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
FROM documents ORDER BY doc_id LIMIT 200
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES = {
    "jq_extract_agg": q_jq_extract_agg,
    "jq_native_agg": q_jq_native_agg,
    "jq_select_filter": q_jq_select_filter,
    "jq_multicol": q_jq_multicol,
    "jq_fanout": q_jq_fanout,
    "jq_error_channel": q_jq_error_channel,
    "jq_single_type": q_jq_single_type,
    "jq_tostring": q_jq_tostring,
    "jq_builtins": q_jq_builtins,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "region_revenue": q_region_revenue,
    "window_topk": q_window_topk,
    "rollup_counts": q_rollup_counts,
    "setops": q_setops,
    "semi_anti_join": q_semi_anti_join,
    "dedup_exact": q_dedup_exact,
    "dedup_fingerprint": q_dedup_fingerprint,
    "neardup_jaccard": q_neardup_jaccard,
    "simsearch_topk": q_simsearch_topk,
    "text_stats": q_text_stats,
    "quality_score": q_quality_score,
    "doc_fingerprints": q_doc_fingerprints,
}

ORACLES = {
    "jq_extract_agg": _ORACLE_JQ_AGG,
    "jq_native_agg": _ORACLE_JQ_AGG,
    "jq_select_filter": _ORACLE_JQ_SELECT,
    "jq_multicol": _ORACLE_JQ_MULTICOL,
    "jq_fanout": _ORACLE_JQ_FANOUT,
    "jq_error_channel": _ORACLE_JQ_ERROR,
    "jq_single_type": _ORACLE_JQ_SINGLE,
    "jq_tostring": _ORACLE_JQ_TOSTRING,
    "jq_builtins": _ORACLE_JQ_BUILTINS,
    "pricing_summary": _ORACLE_PRICING,
    "top_revenue_orders": _ORACLE_TOP_REVENUE,
    "region_revenue": _ORACLE_REGION_REVENUE,
    "window_topk": _ORACLE_WINDOW_TOPK,
    "rollup_counts": _ORACLE_ROLLUP,
    "setops": _ORACLE_SETOPS,
    "semi_anti_join": _ORACLE_SEMI_ANTI,
    "dedup_exact": _ORACLE_DEDUP_EXACT,
    "dedup_fingerprint": _ORACLE_DEDUP_FP,
    "neardup_jaccard": _ORACLE_NEARDUP,
    "simsearch_topk": _ORACLE_SIMSEARCH,
    "text_stats": _ORACLE_TEXT_STATS,
    "quality_score": _ORACLE_QUALITY,
    "doc_fingerprints": _ORACLE_FINGERPRINTS,
}


# ---------------------------------------------------------------------------
# Additional coverage: jq language groups J24/J25/J22, MinHash path,
# embedding near-dup, components, token counts, multimodal metadata
# ---------------------------------------------------------------------------


def q_jq_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J25 path-assignment through the UDTF: update then destructure."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events,
        "props",
        ".k2 = (.k * 2) | .k3 += 5 | {k: .k, k2: .k2, k3: .k3}",
        "k:int",
        "k2:int",
        "k3:int",
        native="never",
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return x.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.sum("k2").alias("sum_k2"),
        F.sum("k3").alias("sum_k3"),
    )


_ORACLE_JQ_ASSIGN = """
WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
SELECT count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(k * 2) AS BIGINT) AS sum_k2,
       CAST(count(*) * 5 AS BIGINT) AS sum_k3
FROM k
"""


def q_jq_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J24 reduce/foreach through the UDTF."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events,
        "props",
        "{s: (reduce (.k, .k + 1, .k + 2) as $x (0; . + $x)),"
        " f: ([foreach (1, 2, 3) as $i (0; . + $i)] | last)}",
        "s:int",
        "f:int",
        native="never",
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return x.agg(
        F.count("*").alias("n"),
        F.sum("s").alias("sum_s"),
        F.sum("f").alias("sum_f"),
    )


_ORACLE_JQ_REDUCE = """
WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
SELECT count(*) AS n,
       CAST(sum(3 * k + 3) AS BIGINT) AS sum_s,
       CAST(count(*) * 6 AS BIGINT) AS sum_f
FROM k
"""


def q_jq_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J22 string/regex builtins through the UDTF."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events,
        "props",
        '{isnum: (.k | tostring | test("^[0-9]+$")),'
        " ndig: (.k | tostring | length),"
        ' padded: ("v-" + (.k | tostring))}',
        "isnum:boolean",
        "ndig:int",
        "padded:string",
        native="never",
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return (
        x.groupBy("isnum", "ndig")
        .agg(F.count("*").alias("n"), F.max("padded").alias("max_padded"))
        .orderBy("isnum", "ndig")
    )


_ORACLE_JQ_REGEX = """
WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
SELECT true AS isnum, length(CAST(k AS VARCHAR)) AS ndig,
       count(*) AS n, max('v-' || CAST(k AS VARCHAR)) AS max_padded
FROM k GROUP BY 2 ORDER BY 1, 2
"""


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact verification: at the planted
    duplication level (all planted pairs have jaccard ≥0.9) LSH
    recall at 32 bands × 4 rows is 1-(1-0.9^4)^32 ≈ 1-1.5e-15 —
    results deterministically equal the exact oracle."""
    from ..operators.dedup import minhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_neardup_pairs(docs, n=3, threshold=0.8, bands=32, rows=4)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.45)."""
    from ..operators.similarity import pairwise_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        pairwise_cosine(emb, threshold=0.45)
        .select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


_ORACLE_EMB_NEARDUP = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
ORDER BY vec_a, vec_b
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph (iterative
    label propagation — cheapest on the shallow cluster shapes dedup
    graphs have; ``dedup_components_lsss`` is the long-chain-safe
    variant); oracle via recursive CTE."""
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return connected_components(pairs).orderBy("doc_id")


def q_dedup_components_lsss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via large-star/small-star alternation:
    O(log²|V|) rounds on ANY graph shape — the 100 TB-safe variant
    when component diameters are unbounded (label propagation needs
    O(diameter) rounds).  Same pair graph, same oracle."""
    from ..operators.dedup import connected_components_lsss, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    # shuffle width scoped to the EDGE graph (tiny vs the corpus):
    # per-round scheduling cost is per-partition; 8 is plenty for the
    # dedup-pair volume at any tested sf — size to edges at scale
    return connected_components_lsss(pairs, shuffle_partitions=8).orderBy("doc_id")


_ORACLE_COMPONENTS = """
WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
s AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 2)) AS i, ts FROM t),
g AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh FROM s),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
          FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
edges AS (
  SELECT i AS a, j AS b FROM inter
  JOIN sz na ON na.doc_id = i JOIN sz nb ON nb.doc_id = j
  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
walk(id, comp) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, w.comp FROM sym s JOIN walk w ON s.b = w.id)
SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY id ORDER BY doc_id
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    from ..operators.text import token_counts

    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs).orderBy("doc_id").limit(300)


_ORACLE_TOKEN_COUNTS = r"""
SELECT doc_id,
       CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS INTEGER) AS bpe_ish_tokens
FROM documents ORDER BY doc_id LIMIT 300
"""


def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata aggregation (binary payloads pruned from
    the scan — JVM-side only)."""
    from ..operators.multimodal import docs_as_media, modality_stats

    docs = load_table(spark, sf_dir, "documents")
    return modality_stats(docs_as_media(docs))


_ORACLE_MM_STATS = """
SELECT 'text' AS modality, count(*) AS n,
       CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
       round(avg(octet_length(CAST(text AS BLOB))), 4) AS avg_bytes
FROM documents
"""


QUERIES.update(
    {
        "jq_assignment": q_jq_assignment,
        "jq_reduce": q_jq_reduce,
        "jq_regex": q_jq_regex,
        "minhash_neardup": q_minhash_neardup,
        "embedding_neardup": q_embedding_neardup,
        "dedup_components": q_dedup_components,
        "dedup_components_lsss": q_dedup_components_lsss,
        "token_counts": q_token_counts,
        "multimodal_stats": q_multimodal_stats,
    }
)

ORACLES.update(
    {
        "jq_assignment": _ORACLE_JQ_ASSIGN,
        "jq_reduce": _ORACLE_JQ_REDUCE,
        "jq_regex": _ORACLE_JQ_REGEX,
        "minhash_neardup": _ORACLE_NEARDUP,
        "embedding_neardup": _ORACLE_EMB_NEARDUP,
        "dedup_components": _ORACLE_COMPONENTS,
        "dedup_components_lsss": _ORACLE_COMPONENTS,
        "token_counts": _ORACLE_TOKEN_COUNTS,
        "multimodal_stats": _ORACLE_MM_STATS,
    }
)


# ---------------------------------------------------------------------------
# Round-1 wave 3: portable SimHash, language-ID, ANN (SRP-LSH), and a
# Structured-Streaming windowed aggregation — each oracle-checked.
# ---------------------------------------------------------------------------


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 of 60 bits).  The
    4x15-bit chunk blocking is EXACT for this radius (pigeonhole),
    so the result deterministically equals the brute-force oracle."""
    from ..operators.dedup import simhash60_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash60_neardup_pairs(docs, max_hamming=3).orderBy("doc_a", "doc_b")


def _gen_simhash_oracle(max_hamming: int = 3) -> str:
    bits = ",\n       ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    shift = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(60)
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
b AS (SELECT doc_id, {bits} FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, {shift} AS simhash FROM b)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


_ORACLE_SIMHASH = _gen_simhash_oracle(3)


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram/stopword language-ID over documents."""
    from ..operators.text import _LANG_PROFILES, language_id

    docs = load_table(spark, sf_dir, "documents")
    langs = list(_LANG_PROFILES)
    return (
        language_id(docs)
        .select(
            "doc_id",
            "pred_lang",
            *[F.round(f"score_{l}", 4).alias(f"score_{l}") for l in langs],
        )
        .orderBy("doc_id")
    )


def _langid_sql_fragments() -> tuple[str, str, str]:
    """(score_exprs, best, pred) SQL fragments generated from the SAME
    profile table the Spark operator uses — one formula source for
    every oracle that embeds language-ID."""
    from ..operators.text import _LANG_PROFILES

    langs = list(_LANG_PROFILES)

    def esc(s: str) -> str:
        return s.replace("'", "''")

    score_exprs = ",\n       ".join(
        "("
        + " + ".join(
            f"(length(t) - length(replace(t, '{esc(p)}', ''))) / {max(len(p), 1)}"
            for p in pats
        )
        + f") AS score_{lang}"
        for lang, pats in _LANG_PROFILES.items()
    )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    pred = (
        "CASE "
        + " ".join(f"WHEN score_{l} = best THEN '{l}'" for l in langs)
        + " ELSE NULL END"
    )
    return score_exprs, best, pred


def _gen_language_oracle() -> str:
    from ..operators.text import _LANG_PROFILES

    langs = list(_LANG_PROFILES)
    score_exprs, best, pred = _langid_sql_fragments()
    rounded = ", ".join(f"round(score_{l}, 4) AS score_{l}" for l in langs)
    return f"""
WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
s AS (SELECT doc_id, {score_exprs} FROM p),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, {pred} AS pred_lang, {rounded}
FROM b ORDER BY doc_id
"""


_ORACLE_LANGUAGE_ID = _gen_language_oracle()


def q_ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbours: SRP-LSH bucketing (16 buckets)
    + exact cosine re-rank within buckets; 50 fixed query vectors
    against the whole corpus.  The bucket assignment, candidate set,
    and ranking are fully deterministic (seeded hyperplanes), so the
    SQL oracle reproduces them exactly."""
    from ..operators.similarity import srp_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 50)
    out = srp_topk(q, emb, k=5, n_planes=4, dim=64)
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("cosine", 4).alias("cosine"),
    ).orderBy("query_id", "rank")


def _gen_srp_oracle(n_planes: int = 4, dim: int = 64, k: int = 5, qmax: int = 50) -> str:
    from ..operators.similarity import _random_hyperplanes

    planes = _random_hyperplanes(dim, n_planes, seed=42)

    def dot_const(vec: str, consts) -> str:
        return "(" + " + ".join(
            f"{vec}[{i + 1}]::DOUBLE * ({c!r})" for i, c in enumerate(consts)
        ) + ")"

    bucket = " + ".join(
        f"(CASE WHEN {dot_const('embedding', p)} >= 0 THEN {1 << i}::BIGINT ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    norm = "sqrt(" + " + ".join(
        f"embedding[{i + 1}]::DOUBLE * embedding[{i + 1}]::DOUBLE" for i in range(dim)
    ) + ")"
    pair_dot = " + ".join(
        f"q.embedding[{i + 1}]::DOUBLE * c.embedding[{i + 1}]::DOUBLE"
        for i in range(dim)
    )
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket, {norm} AS nrm FROM embeddings),
q AS (SELECT * FROM b WHERE vec_id < {qmax}),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ({pair_dot}) / (q.nrm * c.nrm) AS cosine
      FROM q JOIN b c ON q.bucket = c.bucket),
r AS (SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM s)
SELECT query_id, neighbor_id, rank, round(cosine, 4) AS cosine
FROM r WHERE rank <= {k} ORDER BY query_id, rank
"""


_ORACLE_ANN_SRP = _gen_srp_oracle()




from contextlib import contextmanager

_CKPT_ROOT: list = []


def _stream_checkpoint_root() -> str:
    """Process-unique base directory for streaming checkpoints,
    preferring tmpfs (/dev/shm) over the disk-backed java tmpdir.

    The state-store commit path (offsets, commits, HDFSBackedStateStore
    deltas/snapshots) fsyncs small files every micro-batch; on a
    disk-backed /tmp that I/O is a measurable slice of the ~2 s
    availableNow trigger floor.  A RAM-backed checkpoint is the
    local-mode stand-in for the NVMe/object-store checkpoint volume a
    real cluster provisions — correctness is unaffected (the dir is
    process-unique, so no stale offsets can be resumed; each query
    still gets its own subdirectory via its unique query name).
    Cleaned up atexit."""
    if not _CKPT_ROOT:
        import atexit
        import os
        import shutil
        import tempfile

        # Capacity gate (ADVICE r8): containers often cap /dev/shm at
        # 64 MB, and r8 stages stream-source parquet copies and the
        # file-sink output under this root too — require real headroom
        # (256 MB) before choosing tmpfs, else ENOSPC mid-suite.
        base = None
        if os.access("/dev/shm", os.W_OK):
            try:
                if shutil.disk_usage("/dev/shm").free >= 256 * 1024 * 1024:
                    base = "/dev/shm"
            except OSError:
                pass
        root = tempfile.mkdtemp(prefix="sgraft_ckpt_", dir=base)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _CKPT_ROOT.append(root)
    return _CKPT_ROOT[0]


@contextmanager
def _stream_shuffle(spark: SparkSession, n: int = 4):
    """Scope a streaming-appropriate shuffle-partition count around a
    stream start: the state-store instance count (= shuffle
    partitions at first trigger) dominates micro-batch latency when
    state is small — 64 stores for kilobytes of state cost 5× the
    trigger time of 8.  Measured r6 (stream_stream_join, warm): 8
    stores 2.9 s, 4 stores 2.1 s, 2 stores 1.7 s — per-store commit
    overhead, not compute.  4 balances that against leaving the
    toy-scale gates shaped like the real thing; at real scale size
    this to state volume / cluster, not the relational default.
    Restored afterwards so the post-sink batch aggregation keeps
    full parallelism.

    Also scopes ``spark.sql.streaming.checkpointLocation`` to the
    process-unique tmpfs root (see :func:`_stream_checkpoint_root`)
    so every stream started inside the block checkpoints to RAM
    instead of the disk-backed java tmpdir — queries that pass an
    explicit ``checkpointLocation`` option still win over the conf."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_ckpt = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.streaming.checkpointLocation", _stream_checkpoint_root())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        if old_ckpt is None:
            spark.conf.unset("spark.sql.streaming.checkpointLocation")
        else:
            spark.conf.set("spark.sql.streaming.checkpointLocation", old_ckpt)


_STREAM_QUERY_SEQ = [0]


def q_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end: parquet file stream source →
    jq extraction → watermarked tumbling-window aggregate → memory
    sink (availableNow, deterministic).  The batch oracle computes
    the same windows with time_bucket."""
    from ..sources.tables import stream_events
    from ..streaming.jq_stream import windowed_event_counts

    raw = stream_events(spark, sf_dir)
    win = windowed_event_counts(raw, program="{k: .k}", window="1 hour", watermark="2 hours")
    _STREAM_QUERY_SEQ[0] += 1
    name = f"stream_win_counts_{_STREAM_QUERY_SEQ[0]}"
    with _stream_shuffle(spark):
        q = (
            win.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming query did not finish within 300s")
    return (
        spark.table(name)
        .select(
            F.unix_timestamp("win_start").alias("win_epoch"),
            "event_type",
            "n",
            "sum_k",
        )
        .orderBy("win_epoch", "event_type")
    )


_ORACLE_STREAM_WINDOWED = """
SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS win_epoch,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1, 2
ORDER BY win_epoch, event_type
"""


QUERIES.update(
    {
        "simhash_neardup": q_simhash_neardup,
        "language_id": q_language_id,
        "ann_srp_topk": q_ann_srp_topk,
        "stream_windowed": q_stream_windowed,
    }
)

ORACLES.update(
    {
        "simhash_neardup": _ORACLE_SIMHASH,
        "language_id": _ORACLE_LANGUAGE_ID,
        "ann_srp_topk": _ORACLE_ANN_SRP,
        "stream_windowed": _ORACLE_STREAM_WINDOWED,
    }
)


# ---------------------------------------------------------------------------
# IVF-Flat ANN (the inverted-file scale path, complementing SRP-LSH)
# ---------------------------------------------------------------------------


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k: 8 cells (centroids = the first 8
    corpus vectors — externally-supplied, deterministic), queries
    probe their 2 nearest cells, exact cosine re-rank inside.  All
    assignment arithmetic is replicated term-for-term in the SQL
    oracle, so results hash-match."""
    import numpy as np

    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.where(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    )
    centroids = np.array([r.embedding for r in cent_rows], dtype=np.float64)
    q = emb.where(F.col("vec_id") < 50)
    out = ivf_topk(q, emb, centroids, k=5, n_probe=2)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 4).alias("cosine")
    ).orderBy("query_id", "rank")


def _gen_ivf_oracle(n_cells: int = 8, n_probe: int = 2, k: int = 5, qmax: int = 50, dim: int = 64) -> str:
    d2 = " + ".join(
        f"(e.embedding[{i+1}]::DOUBLE - c.cv[{i+1}]::DOUBLE) * (e.embedding[{i+1}]::DOUBLE - c.cv[{i+1}]::DOUBLE)"
        for i in range(dim)
    )
    norm = "sqrt(" + " + ".join(
        f"embedding[{i+1}]::DOUBLE * embedding[{i+1}]::DOUBLE" for i in range(dim)
    ) + ")"
    pair_dot = " + ".join(
        f"qn.embedding[{i+1}]::DOUBLE * cn.embedding[{i+1}]::DOUBLE" for i in range(dim)
    )
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {n_cells}),
a AS (SELECT e.vec_id, c.cid, ({d2}) AS d2 FROM embeddings e CROSS JOIN cent c),
r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM a),
ccell AS (SELECT vec_id AS neighbor_id, cid AS cell FROM r WHERE rn = 1),
qcell AS (SELECT vec_id AS query_id, cid AS cell FROM r WHERE vec_id < {qmax} AND rn <= {n_probe}),
cand AS (SELECT DISTINCT query_id, neighbor_id FROM qcell q JOIN ccell c USING (cell)),
n AS (SELECT vec_id, embedding, {norm} AS nrm FROM embeddings),
s AS (SELECT cand.query_id, cand.neighbor_id, ({pair_dot}) / (qn.nrm * cn.nrm) AS cosine
      FROM cand JOIN n qn ON qn.vec_id = cand.query_id
                JOIN n cn ON cn.vec_id = cand.neighbor_id),
rr AS (SELECT query_id, neighbor_id, cosine,
              CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       FROM s)
SELECT query_id, neighbor_id, rank, round(cosine, 4) AS cosine
FROM rr WHERE rank <= {k} ORDER BY query_id, rank
"""


_ORACLE_ANN_IVF = _gen_ivf_oracle()

QUERIES["ann_ivf_topk"] = q_ann_ivf_topk
ORACLES["ann_ivf_topk"] = _ORACLE_ANN_IVF


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (2 h inactivity gap) per user — the native
    session_window operator; oracle via gaps-and-islands.  Spark
    merges events with diff < gap (strict), so the oracle starts a
    new session on diff >= gap."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window(F.col("ts"), "2 hours"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            F.unix_timestamp(F.col("session_window.start")).alias("session_start_epoch"),
            F.col("n_events"),
        )
        .orderBy("user_id", "session_start_epoch")
    )


_ORACLE_SESSION_WINDOWS = """
WITH m AS (SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 2 HOUR
             THEN 1 ELSE 0 END AS new_s
      FROM events),
s AS (SELECT user_id, ts,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       count(*) AS n_events
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_epoch
"""

QUERIES["session_windows"] = q_session_windows
ORACLES["session_windows"] = _ORACLE_SESSION_WINDOWS


def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (lineitem × part on partkey, left side
    salted 16×, right side replicated) + revenue by p_brand.  The
    salting must be result-invariant — the oracle is the PLAIN
    join."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = salted_join(li, part, on="p_partkey", n_salts=16)
    return (
        j.groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
        .orderBy("p_brand")
    )


_ORACLE_SALTED_JOIN = """
SELECT p_brand, count(*) AS n,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


def q_minhash_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized dedup: drop the higher doc_id of every verified
    near-dup pair (MinHash-LSH candidates, exact Jaccard >= 0.8
    verify), return the surviving doc ids.  Oracle re-derives the
    exact pair set and anti-joins."""
    from ..operators.dedup import minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    kept = minhash_dedup(docs, n=3, threshold=0.8, bands=32, rows=4)
    return kept.select("doc_id").orderBy("doc_id")


_ORACLE_MINHASH_DEDUP = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
s AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 2)) AS i, ts FROM t),
g AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh FROM s),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
          FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
losers AS (
  SELECT DISTINCT j AS doc_id FROM inter
  JOIN sz na ON na.doc_id = i JOIN sz nb ON nb.doc_id = j
  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY doc_id
"""

QUERIES["salted_join_agg"] = q_salted_join_agg
ORACLES["salted_join_agg"] = _ORACLE_SALTED_JOIN
QUERIES["minhash_dedup_keep"] = q_minhash_dedup_keep
ORACLES["minhash_dedup_keep"] = _ORACLE_MINHASH_DEDUP


# ---------------------------------------------------------------------------
# Relational breadth: cube, distinct aggregation, pivot
# ---------------------------------------------------------------------------


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (l_returnflag, l_linestatus) — all 4 grouping-set
    combinations; NULL marks the rolled-up dimension."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (count + sum DISTINCT) — the expand-based
    distinct-agg plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.round(F.sum_distinct(F.col("l_quantity")), 4).alias("sum_dist_qty"),
        )
        .orderBy("l_returnflag")
    )


_ORACLE_DISTINCT_AGG = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       round(sum(DISTINCT l_quantity), 4) AS sum_dist_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT events by event_type (fixed column list so the plan is
    static — at scale never use inferred pivot values)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("hour_of_day", F.hour("ts"))
        .groupBy("hour_of_day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .orderBy("hour_of_day")
    )


_ORACLE_PIVOT = """
SELECT extract(hour FROM ts) AS hour_of_day,
       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
       CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
       CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
       CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
FROM events GROUP BY 1 ORDER BY 1
"""

QUERIES["cube_counts"] = q_cube_counts
ORACLES["cube_counts"] = _ORACLE_CUBE
QUERIES["distinct_agg"] = q_distinct_agg
ORACLES["distinct_agg"] = _ORACLE_DISTINCT_AGG
QUERIES["pivot_counts"] = q_pivot_counts
ORACLES["pivot_counts"] = _ORACLE_PIVOT


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attribute each purchase to the user's most recent
    click at-or-before it (union + window formulation — ONE shuffle
    on user_id, no inequality join).  Oracle: DuckDB native ASOF
    JOIN."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(purchases, clicks, key="user_id", ts="ts", right_cols=["click_id"])
    return out.select(
        "purchase_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.round("value", 4).alias("value"),
        "click_id_r",
        F.unix_timestamp("ts_r").alias("click_epoch"),
    ).orderBy("purchase_id")


_ORACLE_ASOF = """
WITH p AS (SELECT user_id, ts, event_id AS purchase_id, value FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click')
SELECT p.purchase_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
       round(p.value, 4) AS value,
       c.click_id AS click_id_r,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY purchase_id
"""

QUERIES["asof_attribution"] = q_asof_attribution
ORACLES["asof_attribution"] = _ORACLE_ASOF


def q_range_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval join: purchases falling inside a 24 h
    post-signup window of the same user.  Bucketing only prunes; the
    oracle is the plain inequality join."""
    from ..operators.range_join import interval_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("s_start"),
        (F.col("ts") + F.expr("INTERVAL 24 HOURS")).alias("s_end"),
        F.col("event_id").alias("signup_id"),
    )
    out = interval_join_bucketed(
        purchases, signups, key="user_id", ts="ts", start="s_start", end="s_end"
    )
    return out.select("purchase_id", "signup_id", "user_id").orderBy(
        "purchase_id", "signup_id"
    )


_ORACLE_RANGE = """
WITH p AS (SELECT user_id, ts, event_id AS purchase_id FROM events WHERE event_type = 'purchase'),
s AS (SELECT user_id, ts AS s_start, ts + INTERVAL 24 HOUR AS s_end, event_id AS signup_id
      FROM events WHERE event_type = 'signup')
SELECT p.purchase_id, s.signup_id, p.user_id
FROM p JOIN s ON p.user_id = s.user_id AND p.ts >= s.s_start AND p.ts < s.s_end
ORDER BY purchase_id, signup_id
"""

QUERIES["range_attribution"] = q_range_attribution
ORACLES["range_attribution"] = _ORACLE_RANGE


def q_jq_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface end-to-end: registered `jq` UDTF in a LATERAL
    join (README.md:121 shape verbatim), aggregated.  Same oracle as
    the DataFrame-API variant."""
    register(spark, "jq")
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_sqlv")
    return spark.sql(
        """
        SELECT e.event_type,
               count(*) AS n,
               sum(p.k) AS sum_k,
               round(avg(p.k), 4) AS avg_k
        FROM events_sqlv e,
        LATERAL jq(e.props, '{k: .k}', 'k:int') p
        GROUP BY e.event_type ORDER BY e.event_type
        """
    )


def q_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running (count, sum) of the jq-extracted metric, driven
    availableNow to completion; final state per user equals the
    batch aggregate (the oracle)."""
    from ..sources.tables import stream_events
    from ..streaming.stateful import running_user_totals

    raw = stream_events(spark, sf_dir).select("user_id", "props")
    tot = running_user_totals(raw, json_col="props", program=".k")
    _STREAM_QUERY_SEQ[0] += 1
    name = f"stateful_totals_{_STREAM_QUERY_SEQ[0]}"
    with _stream_shuffle(spark):
        q = (
            tot.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming query did not finish within 300s")
    # update mode emits one row per (user, micro-batch); the final
    # state per user is the row with the largest n_events
    t = spark.table(name)
    final = t.groupBy("user_id").agg(F.max(F.struct("n_events", "sum_k")).alias("s"))
    return final.select(
        "user_id", F.col("s.n_events").alias("n_events"), F.col("s.sum_k").alias("sum_k")
    ).orderBy("user_id")


_ORACLE_STATEFUL = """
SELECT user_id, count(k) AS n_events, CAST(sum(k) AS DOUBLE) AS sum_k
FROM (SELECT user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
GROUP BY user_id ORDER BY user_id
"""

QUERIES["jq_sql_lateral"] = q_jq_sql_lateral
ORACLES["jq_sql_lateral"] = _ORACLE_JQ_AGG
QUERIES["stateful_running_totals"] = q_stateful_running_totals
ORACLES["stateful_running_totals"] = _ORACLE_STATEFUL


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split + per-split stats: reproducible
    across engines (md5-derived bucket), runs, and partitionings —
    the property a training split must have.  Oracle recomputes the
    identical bucketing in SQL."""
    from ..operators.text import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    split = train_test_split(docs, "doc_id", test_pct=10, salt="split")
    return (
        split.groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_id"),
        )
        .orderBy("split")
    )


_ORACLE_SPLIT = """
WITH b AS (SELECT *, CASE WHEN ('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10
                     THEN 'test' ELSE 'train' END AS split
           FROM documents)
SELECT split, count(*) AS n, round(avg(n_chars), 4) AS avg_chars, min(doc_id) AS min_id
FROM b GROUP BY split ORDER BY split
"""

QUERIES["train_test_split"] = q_train_test_split
ORACLES["train_test_split"] = _ORACLE_SPLIT


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per-source contiguous
    bins of ~2000 chars (prefix-sum rule); per-bin stats."""
    from ..operators.text import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_documents(docs, budget_chars=2000)
    return (
        packed.groupBy("source", "pack_bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "pack_bin")
    )


_ORACLE_PACK = """
WITH c AS (SELECT source, doc_id, n_chars,
        COALESCE(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM documents)
SELECT source, CAST(floor(cum_before / 2000) AS BIGINT) AS pack_bin,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS first_doc
FROM c GROUP BY 1, 2 ORDER BY source, pack_bin
"""

QUERIES["pack_documents"] = q_pack_documents
ORACLES["pack_documents"] = _ORACLE_PACK


# ---------------------------------------------------------------------------
# Round-1 wave 4: exact percentiles, custom pandas UDAF,
# stream-stream join, streaming dedup
# ---------------------------------------------------------------------------


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`, verified bit-identical).  One
    array-argument aggregate, not three scalar ones: the exact
    percentile buffers every value per group, and three separate
    aggregates buffer (and sort) three copies — the array form pays
    that once and projects the three elements out."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D))"
            ).alias("ps")
        )
        .select(
            "l_returnflag",
            F.round(F.col("ps")[0], 4).alias("p25"),
            F.round(F.col("ps")[1], 4).alias("p50"),
            F.round(F.col("ps")[2], 4).alias("p90"),
        )
        .orderBy("l_returnflag")
    )


_ORACLE_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles with a VERIFIED rank-error bound — the
    100 TB shape for quantiles.  ``approx_percentile`` is a mergeable
    sketch (Greenwald-Khanna): map-side partials, one pass, bounded
    memory per group, vs the exact `percentile`'s full per-group sort
    that cannot scale to billions of rows per group.

    The sketch guarantees the returned value's true rank is within
    1/accuracy of the requested quantile.  Because sketch VALUES are
    engine-specific, the query emits the verified BOUND instead: a
    second pass computes each approx value's exact rank and checks
    |rank - q| <= 1/accuracy (+2/n tie slack), so the oracle is the
    deterministic all-true table and the CORRECTNESS row hash-matches
    while still failing if the sketch ever violates its bound."""
    li = load_table(spark, sf_dir, "lineitem")
    acc = 10_000
    ap = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array(0.25, 0.5, 0.9), {acc})"
        ).alias("ap"),
        F.count("*").alias("n"),
    )
    j = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(ap), "l_returnflag"
    )
    ranks = j.groupBy("l_returnflag").agg(
        (
            F.sum((F.col("l_extendedprice") <= F.element_at("ap", 1)).cast("long"))
            / F.first("n")
        ).alias("r25"),
        (
            F.sum((F.col("l_extendedprice") <= F.element_at("ap", 2)).cast("long"))
            / F.first("n")
        ).alias("r50"),
        (
            F.sum((F.col("l_extendedprice") <= F.element_at("ap", 3)).cast("long"))
            / F.first("n")
        ).alias("r90"),
        F.first("n").alias("n"),
    )

    def ok(r: str, q: float):
        tol = F.lit(1.0 / acc) + F.lit(2.0) / F.col("n")
        return F.abs(F.col(r) - F.lit(q)) <= tol

    return ranks.select(
        "l_returnflag",
        "n",
        ok("r25", 0.25).alias("p25_ok"),
        ok("r50", 0.5).alias("p50_ok"),
        ok("r90", 0.9).alias("p90_ok"),
    ).orderBy("l_returnflag")


_ORACLE_APPROX_PERCENTILES = """
SELECT l_returnflag, count(*) AS n,
       true AS p25_ok, true AS p50_ok, true AS p90_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_entropy_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via applyInPandas: Shannon entropy of the
    jq-extracted k distribution per event_type (terms accumulated in
    sorted-k order for determinism)."""
    import pandas as pd

    events = load_table(spark, sf_dir, "events")
    k = events.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    ).where(F.col("k").isNotNull())

    def entropy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        counts = pdf.groupby("k").size().sort_index()
        p = counts.to_numpy(dtype=np.float64) / float(len(pdf))
        h = float(-(p * np.log2(p)).sum())
        return pd.DataFrame(
            {"event_type": [pdf["event_type"].iloc[0]], "n": [len(pdf)], "entropy": [h]}
        )

    out = k.groupBy("event_type").applyInPandas(
        entropy, "event_type string, n long, entropy double"
    )
    return out.select(
        "event_type", "n", F.round("entropy", 4).alias("entropy")
    ).orderBy("event_type")


_ORACLE_ENTROPY = """
WITH c AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
           FROM events),
f AS (SELECT event_type, k, count(*) AS cnt FROM c WHERE k IS NOT NULL GROUP BY 1, 2),
t AS (SELECT event_type, sum(cnt) AS n FROM f GROUP BY 1)
SELECT f.event_type, CAST(t.n AS BIGINT) AS n,
       round(-sum((f.cnt * 1.0 / t.n) * log2(f.cnt * 1.0 / t.n) ORDER BY f.k), 4) AS entropy
FROM f JOIN t ON f.event_type = t.event_type
GROUP BY f.event_type, t.n ORDER BY f.event_type
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition and
    watermarks (purchase attributed to clicks within the prior 24 h,
    same user), driven availableNow; oracle = batch inequality
    join."""
    from ..sources.tables import stream_events

    def src():
        return stream_events(spark, sf_dir)

    purchases = (
        src()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        src()
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "25 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        "inner",
    )
    _STREAM_QUERY_SEQ[0] += 1
    name = f"ss_join_{_STREAM_QUERY_SEQ[0]}"
    # n=2: a stream-stream join keeps TWO keyed state stores per
    # shuffle partition (left + right buffers), so n=2 runs the same
    # 4 store instances the single-op streaming queries run at the
    # default n=4 — per-store commit overhead dominates micro-batch
    # latency at toy state sizes (measured r9: 1.7 s vs 2.3 s warm)
    with _stream_shuffle(spark, 2):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming query did not finish within 300s")
    return (
        spark.table(name)
        .select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
        .orderBy("purchase_id", "click_id")
    )


_ORACLE_SS_JOIN = """
WITH p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id AS click_id FROM events
      WHERE event_type = 'click')
SELECT p.purchase_id, c.click_id, p.user_id
FROM p JOIN c ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 24 HOUR
ORDER BY purchase_id, click_id
"""


# staged left-outer sources, keyed by sf_dir — the copy + sentinel
# write is identical across runs, so a process re-running the query
# (bench's cold+timed passes) reuses one directory instead of
# restaging per call
_SS_OUTER_STAGE: dict[str, str] = {}


def _stage_ss_outer_source(sf_dir: str) -> str:
    """Stage events.parquet plus a two-row far-future sentinel file
    into a reused temp dir (see q_stream_stream_left_outer for why the
    sentinel exists).  Idempotent per sf_dir per process."""
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.tables import _events_ts_arrow_type

    d = _SS_OUTER_STAGE.get(sf_dir)
    if d and os.path.exists(os.path.join(d, "sentinel.parquet")):
        return d
    # stage on the tmpfs root (r8): the staged copy is re-scanned by
    # every stream start of its consumers (ss joins, cms); ~20 MB of
    # RAM vs a disk round-trip on each cold pass
    d = tempfile.mkdtemp(prefix="ss_outer_", dir=_stream_checkpoint_root())
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(d, "events.parquet")
    )
    # 2100-01-01 (purchase) and ~2100-06-01 (click): the click is LATER
    # than the purchase so the range condition can never match them.
    # The sentinel's ts encoding mirrors the real events file so the
    # two parquets read under one declared schema.
    real_t = _events_ts_arrow_type(os.path.join(d, "events.parquet"))
    y2100_s = 4102444800
    ts_vals = [y2100_s, y2100_s + 13_000_000]
    if str(real_t) == "int64" or getattr(real_t, "unit", None) == "ns":
        ts_arr = pa.array([v * 1_000_000_000 for v in ts_vals], pa.int64())
    else:
        ts_arr = pa.array([v * 1_000_000 for v in ts_vals], real_t)
    sentinel = pa.table(
        {
            "event_id": pa.array([-1, -2], pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([-1, -1], pa.int64()),
            "event_type": pa.array(["purchase", "click"], pa.string()),
            "value": pa.array([0.0, 0.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(sentinel, os.path.join(d, "sentinel.parquet"))
    _SS_OUTER_STAGE[sf_dir] = d
    return d


def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark state expiry:
    every purchase is attributed to prior-24h same-user clicks, and a
    purchase with NO qualifying click is emitted once with NULL
    click_id after the watermark passes its state-retention bound.

    Outer rows only emit when the join's watermark overtakes them, so
    the source is staged into a temp dir with two far-future SENTINEL
    rows (one per side, mutually non-joinable, filtered from the
    output) that push the final watermark past every real row —
    making end-of-stream outer emission deterministic and the plain
    batch LEFT JOIN the exact oracle.  At scale this is the standard
    shape: state is keyed by user, sized by the 24h window, and
    evicted by the watermark — unbounded streams hold bounded state.

    r10 perf redefinition (VERDICT r9 #3): the output contract is the
    per-user ATTRIBUTION SUMMARY (row/unmatched counts + exact id
    sums — any wrong, missing, or extra join row lands in some
    user's bigint sums) instead of the raw 21.7k join rows.  (The
    sentinel filter must NOT move into the stream — see the inline
    note.)  Collecting raw join rows
    to a driver is the anti-scale part of the old contract; the join
    itself is unchanged and fully exercised.  Measured at sf0.1
    (fresh-process cold+warm+timed protocol): 2.2-2.3 s -> 1.9-2.0 s,
    of which ~0.35 s was driver row serialization alone.  Residual
    floor, profiled per trigger: queryPlanning 0.33+0.09 s, addBatch
    0.60+0.43 s (40k two-sided state puts, then the no-data batch's
    outer-emission scan + full eviction), WAL+offsets 0.13 s, stream
    start/stop ~0.2 s — the two-trigger minimum for watermark-closed
    outer emission (the watermark only advances BETWEEN batches, so
    outer rows cannot ride the data batch; maxFilesPerTrigger splits
    only add triggers).  n=1/n=4 store scoping, state-format
    validation off, and per-side pre-projected staged sources were
    all measured within noise of n=2."""
    from ..sources.tables import stream_events

    d = _stage_ss_outer_source(sf_dir)

    def src():
        # glob=None: read BOTH events.parquet and sentinel.parquet
        return stream_events(spark, d, glob=None)

    purchases = (
        src()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        src()
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "25 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        "left_outer",
    )
    # NOTE: the sentinel filter must stay on the BATCH side — inside
    # the stream Catalyst pushes it below the watermark operator, the
    # sentinel purchase stops feeding max event time, and the final
    # watermark stalls 1h short of the data edge (late unmatched
    # purchases never outer-emit; caught by the r10 3-SF strictcheck)
    _STREAM_QUERY_SEQ[0] += 1
    name = f"ss_outer_{_STREAM_QUERY_SEQ[0]}"
    # n=2: two-sided join state = 2 stores per partition; see
    # q_stream_stream_join
    with _stream_shuffle(spark, 2):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming query did not finish within 300s")
    # the staged dir is reused across calls (process-lifetime temp
    # dir, _stage_ss_outer_source), so no rmtree/materialize dance
    # here.  The summary's exchanges run over 1.5k groups — AQE
    # coalesces them; no scoped partition count needed batch-side.
    return (
        spark.table(name)
        .where(F.col("p_user") >= 0)  # drop the sentinels
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("click_id").isNull(), 1).otherwise(0)
            ).alias("n_unmatched"),
            F.sum(F.coalesce(F.col("click_id"), F.lit(0))).alias(
                "sum_click_ids"
            ),
            F.sum("purchase_id").alias("sum_purchase_ids"),
        )
        .orderBy("user_id")
    )


_ORACLE_SS_OUTER = """
WITH p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id AS click_id FROM events
      WHERE event_type = 'click'),
j AS (SELECT p.user_id, p.purchase_id, c.click_id
      FROM p LEFT JOIN c ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 24 HOUR)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
       CAST(sum(coalesce(click_id, 0)) AS BIGINT) AS sum_click_ids,
       CAST(sum(purchase_id) AS BIGINT) AS sum_purchase_ids
FROM j GROUP BY user_id ORDER BY user_id
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type) — emits the
    first occurrence of each pair; count per type must equal the
    batch distinct count."""
    from ..sources.tables import stream_events

    raw = stream_events(spark, sf_dir).select("user_id", "event_type")
    first_seen = raw.dropDuplicates(["user_id", "event_type"])
    _STREAM_QUERY_SEQ[0] += 1
    name = f"stream_dedup_{_STREAM_QUERY_SEQ[0]}"
    with _stream_shuffle(spark):
        q = (
            first_seen.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming query did not finish within 300s")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("event_type")
    )


_ORACLE_STREAM_DEDUP = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES["percentiles"] = q_percentiles
ORACLES["percentiles"] = _ORACLE_PERCENTILES
QUERIES["approx_percentiles"] = q_approx_percentiles
ORACLES["approx_percentiles"] = _ORACLE_APPROX_PERCENTILES
QUERIES["entropy_udaf"] = q_entropy_udaf
ORACLES["entropy_udaf"] = _ORACLE_ENTROPY
QUERIES["stream_stream_join"] = q_stream_stream_join
ORACLES["stream_stream_join"] = _ORACLE_SS_JOIN
QUERIES["stream_stream_left_outer"] = q_stream_stream_left_outer
ORACLES["stream_stream_left_outer"] = _ORACLE_SS_OUTER
QUERIES["stream_dedup"] = q_stream_dedup
ORACLES["stream_dedup"] = _ORACLE_STREAM_DEDUP


def q_jq_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar jq-UDF family in SQL expression position
    (jq_long / jq_matches / jq_string), composed with relational
    ops — the expression-position complement of the UDTF."""
    from ..functions.jq_functions import register_functions

    register_functions(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_fn")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               sum(jq_long(props, '.k')) AS sum_k,
               sum(CASE WHEN jq_matches(props, '.k > 50') THEN 1 ELSE 0 END) AS n_big,
               min(jq_string(props, '.k | tostring')) AS min_k_str
        FROM events_fn
        GROUP BY event_type ORDER BY event_type
        """
    )


_ORACLE_JQ_SCALAR = """
WITH k AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       min(k::VARCHAR) AS min_k_str
FROM k GROUP BY event_type ORDER BY event_type
"""

QUERIES["jq_scalar_functions"] = q_jq_scalar_functions
ORACLES["jq_scalar_functions"] = _ORACLE_JQ_SCALAR


def q_jq_native_multicol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multicol destructure + computed fields program compiled to
    Catalyst expressions (native="require"; arithmetic/comparison
    projection compilation, §4.2 expansion).  Only the rows the route
    flag selects reach the plan's Python node.  Oracle identical to the
    Python-tier variant."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events,
        "props",
        "{k: .k, big: (.k > 50), bucket: (.k % 10)}",
        "k:int",
        "big:boolean",
        "bucket:int",
        native="require",
    )
    return (
        x.groupBy("big", "bucket")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("big", "bucket")
    )


QUERIES["jq_native_multicol"] = q_jq_native_multicol
ORACLES["jq_native_multicol"] = _ORACLE_JQ_MULTICOL


def q_jq_native_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select(.k > 50) compiled to a native WHERE on the extraction
    (filter runs pre-explode, JVM-only); same oracle as the
    Python-tier jq_select_filter."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events, "props", "select(.k > 50) | {k: .k}", "k:int", native="require"
    )
    return (
        x.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("event_type")
    )


QUERIES["jq_native_select"] = q_jq_native_select
ORACLES["jq_native_select"] = _ORACLE_JQ_SELECT


def q_jq_native_expr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic select condition compiled natively:
    select(.k % 2 == 0) runs as a WHERE on the native rows."""
    events = load_table(spark, sf_dir, "events")
    x = jq_explode(
        events, "props", "select(.k % 2 == 0) | {k: .k}", "k:int", native="require"
    )
    return (
        x.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("event_type")
    )


_ORACLE_JQ_EXPR_FILTER = """
SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
WHERE k % 2 = 0 GROUP BY event_type ORDER BY event_type
"""

QUERIES["jq_native_expr_filter"] = q_jq_native_expr_filter
ORACLES["jq_native_expr_filter"] = _ORACLE_JQ_EXPR_FILTER


def q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy hitters: top-20 tokens by document
    frequency (explode → two-level aggregation → ordered limit).
    Map-side partial aggregation bounds the shuffle to distinct
    tokens per partition."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "tok")
        .limit(20)
    )


_ORACLE_HEAVY_HITTERS = """
WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
           FROM documents)
SELECT tok, count(*) AS df
FROM t GROUP BY tok ORDER BY df DESC, tok LIMIT 20
"""

QUERIES["token_heavy_hitters"] = q_token_heavy_hitters
ORACLES["token_heavy_hitters"] = _ORACLE_HEAVY_HITTERS


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: rebalance the language mix
    (keep 100% of de/fr/es/zh, 20% of en) — per-stratum stats."""
    from ..operators.text import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    pcts = {"en": 20, "de": 100, "fr": 100, "es": 100, "zh": 100}
    samp = stratified_hash_sample(docs, "lang", pcts, id_col="doc_id")
    return (
        samp.groupBy("lang")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_id"))
        .orderBy("lang")
    )


_ORACLE_STRATIFIED = """
WITH b AS (SELECT *, ('0x' || substr(md5('strat' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bk
           FROM documents)
SELECT lang, count(*) AS n, min(doc_id) AS min_id
FROM b
WHERE bk < (CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 100 WHEN 'fr' THEN 100
            WHEN 'es' THEN 100 WHEN 'zh' THEN 100 ELSE 0 END)
GROUP BY lang ORDER BY lang
"""

QUERIES["stratified_sample"] = q_stratified_sample
ORACLES["stratified_sample"] = _ORACLE_STRATIFIED


def q_jq_native_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function chains compiled natively: JSON built from
    documents, jq normalizes via ascii case folding (A-Z ONLY, jq
    semantics — unicode untouched) + rtrimstr, all as Catalyst
    translate/substr expressions on the native rows."""
    docs = load_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        F.to_json(
            F.struct(F.col("lang"), F.substring("text", 1, 40).alias("head"))
        ).alias("doc"),
    )
    x = jq_explode(
        j,
        "doc",
        '{lang_u: (.lang | ascii_upcase), head_n: (.head | ascii_downcase | rtrimstr(" "))}',
        "lang_u:string",
        "head_n:string",
        native="require",
    )
    return x.select("doc_id", "lang_u", "head_n").orderBy("doc_id").limit(300)


_ORACLE_JQ_NATIVE_STRINGS = """
WITH h AS (SELECT doc_id,
        translate(lang, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS lang_u,
        translate(substr(text, 1, 40),
                  'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS hd
      FROM documents)
SELECT doc_id, lang_u,
       CASE WHEN hd LIKE '% ' THEN substr(hd, 1, length(hd) - 1) ELSE hd END AS head_n
FROM h ORDER BY doc_id LIMIT 300
"""

QUERIES["jq_native_strings"] = q_jq_native_strings
ORACLES["jq_native_strings"] = _ORACLE_JQ_NATIVE_STRINGS


def q_jq_native_alternative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """// alternative compiled natively: every 3rd event's props is
    emptied; (.k // -1) substitutes, as a codegen when/otherwise."""
    events = load_table(spark, sf_dir, "events")
    mixed = events.withColumn(
        "j",
        F.when(F.col("event_id") % 3 == 0, F.lit("{}")).otherwise(F.col("props")),
    )
    x = jq_explode(mixed, "j", "{k: (.k // -1)}", "k:int", native="require")
    return (
        x.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") == -1, 1).otherwise(0)).alias("n_default"),
        )
        .orderBy("event_type")
    )


_ORACLE_JQ_NATIVE_ALT = """
SELECT event_type, count(*) AS n,
       CAST(sum(CASE WHEN event_id % 3 = 0 THEN -1
                ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END) AS BIGINT) AS sum_k,
       CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_default
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES["jq_native_alternative"] = q_jq_native_alternative
ORACLES["jq_native_alternative"] = _ORACLE_JQ_NATIVE_ALT


# ---------------------------------------------------------------------------
# Round-2: native tier growth — multi-iterate, length/tostring, string
# predicates in select, map-typed projections (VERDICT r1 next-#1).
# ---------------------------------------------------------------------------


def q_jq_native_multi_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A two-level iterate: per-user nested docs where ``.tags`` is an
    ARRAY ``[k, k+1000]`` for even users and an OBJECT ``{"t1": k,
    "t2": k+1000}`` for odd users, iterated by ``.evs[].tags[]``.  The
    odd-user half exercises inner-level OBJECT iteration (values in
    document key order); both shapes contribute the same k/k+1000
    pair, so the oracle is shape-blind.  Iterating programs run on the
    Python tier, which measured faster than the former native explode
    plan."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    tags_json = F.when(
        F.col("user_id") % 2 == 0,
        F.concat(F.lit('{"tags":['), k, F.lit(","), k + 1000, F.lit("]}")),
    ).otherwise(
        F.concat(
            F.lit('{"tags":{"t1":'), k, F.lit(',"t2":'), k + 1000, F.lit("}}")
        )
    )
    nested = (
        events.select(F.col("user_id"), tags_json.alias("ev"))
        .groupBy("user_id")
        .agg(F.concat_ws(",", F.collect_list("ev")).alias("evs"))
        .select(F.concat(F.lit('{"evs":['), F.col("evs"), F.lit("]}")).alias("doc"))
        # the exchange spreads the per-user docs across cores (the
        # aggregate's output would otherwise run jq in few tasks)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    x = jq_explode(nested, "doc", ".evs[].tags[]", "bigint")
    return x.agg(
        F.count("*").alias("n"),
        F.sum("col1").alias("sum_k"),
        F.min("col1").alias("min_k"),
        F.max("col1").alias("max_k"),
    )


_ORACLE_JQ_NATIVE_MULTI_ITER = """
WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events),
u AS (SELECT k FROM k UNION ALL SELECT k + 1000 FROM k)
SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k FROM u
"""

QUERIES["jq_native_multi_iterate"] = q_jq_native_multi_iterate
ORACLES["jq_native_multi_iterate"] = _ORACLE_JQ_NATIVE_MULTI_ITER


def q_jq_native_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq ``length`` over every JSON type (string/array/object/
    missing) plus ``tostring``, compiled natively via the variant
    reader — string length is codepoints, object length is key
    count, missing is 0, exactly jq's polymorphic rule."""
    docs = load_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.substring("text", 1, 30).alias("head"),
                F.array("lang", "source").alias("tags"),
                F.struct(
                    F.col("n_chars").alias("a"), F.col("doc_id").alias("b")
                ).alias("obj"),
                F.col("doc_id").alias("nid"),
            )
        ).alias("doc"),
    )
    x = jq_explode(
        j,
        "doc",
        "{hl: (.head | length), nt: (.tags | length), no: (.obj | length),"
        " na: (.missing | length), ts: (.nid | tostring)}",
        "hl:int",
        "nt:int",
        "no:int",
        "na:int",
        "ts:string",
        native="require",
    )
    return x.select("doc_id", "hl", "nt", "no", "na", "ts").orderBy("doc_id").limit(300)


_ORACLE_JQ_NATIVE_LENGTH = """
SELECT doc_id, length(substr(text, 1, 30)) AS hl, 2 AS nt, 2 AS no, 0 AS na,
       CAST(doc_id AS VARCHAR) AS ts
FROM documents ORDER BY doc_id LIMIT 300
"""

QUERIES["jq_native_length"] = q_jq_native_length
ORACLES["jq_native_length"] = _ORACLE_JQ_NATIVE_LENGTH


def q_jq_native_map_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String predicates in select (startswith + test) and a map-typed
    projection under an iterate: items tagged by lang and source, keep
    tags matching ^src1x, emit the kv object as a real map column.
    Iterating programs run on the Python tier; on this one-row-group
    input a ``min_parallelism`` repartition measured slower than none."""
    docs = load_table(spark, sf_dir, "documents")
    kv = F.struct(F.col("n_chars").alias("a"))
    j = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.array(
                    F.struct(F.col("lang").alias("tag"), kv.alias("kv")),
                    F.struct(F.col("source").alias("tag"), kv.alias("kv")),
                ).alias("items")
            )
        ).alias("doc"),
    )
    x = jq_explode(
        j,
        "doc",
        '.items[] | select(.tag | startswith("s")) | select(.tag | test("src1[0-9]"))'
        " | {tag: .tag, m: .kv}",
        "tag:string",
        "m:map<string,bigint>",
    )
    return (
        x.select(
            "doc_id",
            "tag",
            F.array_join(F.map_keys("m"), ",").alias("mk"),
            F.element_at("m", "a").alias("mv"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


_ORACLE_JQ_NATIVE_MAP_PREDS = """
SELECT doc_id, source AS tag, 'a' AS mk, n_chars AS mv
FROM documents
WHERE source LIKE 's%' AND regexp_matches(source, 'src1[0-9]')
ORDER BY doc_id LIMIT 300
"""

QUERIES["jq_native_map_preds"] = q_jq_native_map_preds
ORACLES["jq_native_map_preds"] = _ORACLE_JQ_NATIVE_MAP_PREDS


def q_jq_extended_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended declared types (SURVEY §7 D2, beyond the reference's
    whitelist): decimal/date/timestamp outputs marshalled by the
    Python tier with ``extended=True``.  JSON built from orders
    carries an ISO date, an ISO-8601 UTC timestamp, and a fixed-2dp
    price string; jq destructures them into d:date, t:timestamp,
    p:decimal(12,2)."""
    orders = load_table(spark, sf_dir, "orders")
    j = orders.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
                F.concat(
                    F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("T08:30:00Z")
                ).alias("t"),
                F.format_string("%.2f", F.col("o_totalprice")).alias("p"),
            )
        ).alias("doc"),
    )
    x = jq_explode(
        j,
        "doc",
        "{d: .d, t: .t, p: .p}",
        "d:date",
        "t:timestamp",
        "p:decimal(12,2)",
        extended=True,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    # The UDTF genuinely marshals d:date / t:timestamp / p:decimal(12,2)
    # (extended=True, SURVEY §7 D2) — the canonical-string projection below
    # exists only so the driver's value-hash compares representations that
    # DuckDB and Spark agree on (DuckDB ::DATE round-trips as a midnight
    # datetime and ::DECIMAL as float64 through the canonicalizer).
    return (
        x.select(
            "o_orderkey",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("t"),
            F.format_string("%.2f", F.col("p").cast("double")).alias("p"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


_ORACLE_JQ_EXTENDED = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS d,
       strftime((strftime(o_orderdate, '%Y-%m-%d') || ' 08:30:00')::TIMESTAMP,
                '%Y-%m-%d %H:%M:%S') AS t,
       printf('%.2f', printf('%.2f', o_totalprice)::DECIMAL(12,2)) AS p
FROM orders ORDER BY o_orderkey LIMIT 200
"""

QUERIES["jq_extended_types"] = q_jq_extended_types
ORACLES["jq_extended_types"] = _ORACLE_JQ_EXTENDED


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline — the composition the engine
    exists for, as ONE lazy plan Catalyst optimizes globally:

      language-ID consistency gate (predicted == labeled)
      → quality filter (token count + length window)
      → exact dedup (md5 content hash, min-id keeper)
      → deterministic train/test split (md5 bucket)
      → sequence packing of the train split (per-source prefix-sum
        bins at a 2000-char budget)
      → per-source packing summary.

    Scale audit: one shuffle for the dedup (single-pass window form —
    hash computed scan-side, exchange carries doc_id/source/n_chars
    only, and the heavy langid gate is evaluated ONCE, not re-derived
    by a semi-join's build and probe branches), one for the packing
    window (partitioned by source — parallel across shards), one for
    the final aggregate; language-ID/quality/split are pure codegen
    projections pushed into the scan side.  The oracle recomputes
    every stage in SQL from the same formula sources (language
    profiles shared via _langid_sql_fragments)."""
    from ..operators.dedup import exact_dedup_single_pass
    from ..operators.text import language_id_col, pack_documents, train_test_split

    docs = load_table(spark, sf_dir, "documents")
    # the prediction is a plain projection (language_id_col) — no
    # self-join; the gate fuses into the scan-side filter
    agree = docs.where(language_id_col("text") == F.col("lang"))
    n_tokens = F.size(F.split(F.col("text"), " "))
    qual = agree.where((n_tokens >= 20) & F.col("n_chars").between(50, 5000))
    deduped = exact_dedup_single_pass(
        qual, project=["doc_id", "source", "n_chars"]
    )
    train = train_test_split(deduped, "doc_id", test_pct=10, salt="split").where(
        F.col("split") == "train"
    )
    packed = pack_documents(train, budget_chars=2000)
    return (
        packed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("pack_bin").alias("n_bins"),
            F.sum("n_chars").alias("total_chars"),
            F.max("pack_bin").alias("max_bin"),
        )
        .orderBy("source")
    )


def _gen_training_pipeline_oracle() -> str:
    score_exprs, best, pred = _langid_sql_fragments()
    return f"""
WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
s AS (SELECT doc_id, {score_exprs} FROM p),
b AS (SELECT *, {best} AS best FROM s),
lang_pred AS (SELECT doc_id, {pred} AS pred_lang FROM b),
agree AS (SELECT d.* FROM documents d JOIN lang_pred lp
          ON d.doc_id = lp.doc_id AND lp.pred_lang = d.lang),
qual AS (SELECT * FROM agree
         WHERE len(string_split(text, ' ')) >= 20
           AND n_chars BETWEEN 50 AND 5000),
dedup AS (SELECT * FROM qual
          QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
train AS (SELECT * FROM dedup
          WHERE ('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 >= 10),
packed AS (SELECT source, doc_id, n_chars,
        CAST(floor(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000) AS BIGINT) AS pack_bin
    FROM train)
SELECT source, count(*) AS n_docs, count(DISTINCT pack_bin) AS n_bins,
       CAST(sum(n_chars) AS BIGINT) AS total_chars, max(pack_bin) AS max_bin
FROM packed GROUP BY source ORDER BY source
"""


QUERIES["training_pipeline"] = q_training_pipeline
ORACLES["training_pipeline"] = _gen_training_pipeline_oracle()


# ---------------------------------------------------------------------------
# round-2 wave 2: training-data curation operators
# ---------------------------------------------------------------------------


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global span dedup: fixed-width word chunks, global
    keep-first-occurrence, per-doc reassembly value-checked by hash
    (operators/dedup.py::chunk_dedup)."""
    from ..operators.dedup import chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    return chunk_dedup(docs, width=10)


_ORACLE_CHUNK_DEDUP = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
c AS (SELECT doc_id, i AS chunk_idx,
             array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS chunk
      FROM w, UNNEST(range(CAST(ceil(len(ws)/10.0) AS BIGINT))) AS t(i)),
r AS (SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      FROM c)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE rn = 1), ''))
         AS kept_hash
FROM r GROUP BY doc_id
"""

QUERIES["chunk_dedup"] = q_chunk_dedup
ORACLES["chunk_dedup"] = _ORACLE_CHUNK_DEDUP


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (top-bigram fraction + duplicate
    word fraction) aggregated per language."""
    from ..operators.text import repetition_filter

    docs = load_table(spark, sf_dir, "documents")
    rf = repetition_filter(docs, max_top_bigram_frac=0.10, max_dup_word_frac=0.90)
    joined = docs.select("doc_id", "lang").join(rf, "doc_id")
    return (
        joined.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("rep_pass"), 1).otherwise(0)).alias("n_pass"),
            F.sum(F.when(F.col("rep_pass"), 0).otherwise(1)).alias("n_fail"),
            F.round(F.avg("top_bigram_frac"), 4).alias("avg_top_bigram"),
            F.round(F.avg("dup_word_frac"), 4).alias("avg_dup_word"),
        )
        .orderBy("lang")
    )


_ORACLE_REPETITION = """
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
       FROM w, UNNEST(range(1, len(ws))) AS t(i)),
bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
bf AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac
       FROM bc GROUP BY doc_id),
wf AS (SELECT doc_id, lang,
              round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 4) AS dup_word_frac
       FROM w),
j AS (SELECT wf.lang, coalesce(bf.top_bigram_frac, 0.0) AS top_bigram_frac,
             wf.dup_word_frac,
             (coalesce(bf.top_bigram_frac, 0.0) <= 0.10 AND wf.dup_word_frac <= 0.90)
               AS rep_pass
      FROM wf LEFT JOIN bf ON wf.doc_id = bf.doc_id)
SELECT lang,
       CAST(sum(CASE WHEN rep_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN rep_pass THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
       round(avg(top_bigram_frac), 4) AS avg_top_bigram,
       round(avg(dup_word_frac), 4) AS avg_dup_word
FROM j GROUP BY lang ORDER BY lang
"""

QUERIES["repetition_filter"] = q_repetition_filter
ORACLES["repetition_filter"] = _ORACLE_REPETITION


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a deterministic contact blob built from
    customer columns (the slimmed TPC-H customer has no phone field,
    so both engines synthesize identical PII-shaped text, then
    redact): per-segment match counts + redacted-value hash."""
    from ..operators.text import pii_redact

    cust = load_table(spark, sf_dir, "customer")
    blob = F.concat(
        F.col("c_name"),
        F.lit(" reach me at "),
        F.lower(F.regexp_replace(F.col("c_name"), "#", ".")),
        F.lit("@corp"),
        (F.col("c_custkey") % 7).cast("string"),
        F.lit(".com or 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad(((F.col("c_nationkey") * 37) % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (F.col("c_nationkey") % 256).cast("string"),
        F.lit(".0."),
        (F.col("c_custkey") % 256).cast("string"),
    )
    df = cust.select("c_custkey", "c_mktsegment", blob.alias("contact"))
    red = pii_redact(df, "contact")
    return (
        red.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_email").alias("emails"),
            F.sum("n_phone").alias("phones"),
            F.sum("n_ipv4").alias("ips"),
            F.md5(F.min("redacted")).alias("sample_hash"),
        )
        .orderBy("c_mktsegment")
    )


_ORACLE_PII = r"""
WITH b AS (
  SELECT c_custkey, c_mktsegment,
         c_name || ' reach me at ' || lower(replace(c_name, '#', '.')) || '@corp' ||
         (c_custkey % 7)::VARCHAR || '.com or 555-' ||
         lpad((c_custkey % 10000)::VARCHAR, 4, '0') || '-' ||
         lpad(((c_nationkey * 37) % 10000)::VARCHAR, 4, '0') ||
         ' ip 10.' || (c_nationkey % 256)::VARCHAR || '.0.' ||
         (c_custkey % 256)::VARCHAR AS contact
  FROM customer),
r AS (
  SELECT c_mktsegment,
         len(regexp_extract_all(contact,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         regexp_replace(contact,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g') AS s1
  FROM b),
r2 AS (
  SELECT c_mktsegment, n_email,
         len(regexp_extract_all(s1, '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b')) AS n_phone,
         regexp_replace(s1, '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b', '[PII]', 'g') AS s2
  FROM r),
r3 AS (
  SELECT c_mktsegment, n_email, n_phone,
         len(regexp_extract_all(s2,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ipv4,
         regexp_replace(s2,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[PII]', 'g')
           AS redacted
  FROM r2)
SELECT c_mktsegment, count(*) AS n_rows,
       CAST(sum(n_email) AS BIGINT) AS emails,
       CAST(sum(n_phone) AS BIGINT) AS phones,
       CAST(sum(n_ipv4) AS BIGINT) AS ips,
       md5(min(redacted)) AS sample_hash
FROM r3 GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

QUERIES["pii_redaction"] = q_pii_redaction
ORACLES["pii_redaction"] = _ORACLE_PII


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 8-gram with the
    held-out set (doc_id % 50 == 0) are flagged; per-language
    contaminated/clean counts over the training split."""
    from ..operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 50 == 0)
    tr = docs.where(F.col("doc_id") % 50 != 0)
    res = decontaminate(tr, ev, n=8)
    return (
        res.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0)).alias("n_contaminated"),
            F.sum(F.when(F.col("contaminated"), 0).otherwise(1)).alias("n_clean"),
        )
        .orderBy("lang")
    )


_ORACLE_DECONTAMINATE = """
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
ng AS (SELECT doc_id, array_to_string(ws[i:(i+7)], ' ') AS g
       FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i)
       WHERE len(ws) >= 8),
ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 50 = 0),
contam AS (SELECT DISTINCT ng.doc_id FROM ng JOIN ev USING (g) WHERE ng.doc_id % 50 <> 0)
SELECT d.lang,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id
WHERE d.doc_id % 50 <> 0
GROUP BY d.lang ORDER BY d.lang
"""

QUERIES["decontaminate"] = q_decontaminate
ORACLES["decontaminate"] = _ORACLE_DECONTAMINATE


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: thin the corpus so the language mix
    hits en .5 / de .2 / es .2 / fr .1 exactly (no upsampling; the
    binding language is kept whole) — per-language sample stats
    (operators/text.py::mixture_sample)."""
    from ..operators.text import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    weights = {"en": 0.5, "de": 0.2, "es": 0.2, "fr": 0.1}
    samp = mixture_sample(docs, "lang", weights, id_col="doc_id")
    return (
        samp.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


_ORACLE_MIXTURE = """
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
w AS (SELECT lang, cnt,
             CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2 WHEN 'es' THEN 0.2
                       WHEN 'fr' THEN 0.1 END::DOUBLE AS w
      FROM c),
s AS (SELECT min(cnt / w) AS scale FROM w WHERE w IS NOT NULL),
t AS (SELECT lang, floor(10000.0 * w * scale / cnt) AS th FROM w, s WHERE w IS NOT NULL)
SELECT d.lang, count(*) AS n, min(d.doc_id) AS min_id, max(d.doc_id) AS max_id
FROM documents d JOIN t ON d.lang = t.lang
WHERE ('0x' || substr(md5('mix' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000 < th
GROUP BY d.lang ORDER BY d.lang
"""

QUERIES["mixture_sample"] = q_mixture_sample
ORACLES["mixture_sample"] = _ORACLE_MIXTURE


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen logistic prose-quality model (log-length, stopword
    fraction, word length, digit fraction) scored in one codegen
    projection; pass/fail + mean score per language."""
    from ..operators.text import quality_classify

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang").join(quality_classify(docs), "doc_id")
    return (
        scored.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("q_pass"), 1).otherwise(0)).alias("n_pass"),
            F.sum(F.when(F.col("q_pass"), 0).otherwise(1)).alias("n_fail"),
            F.round(F.avg("q_score"), 4).alias("avg_score"),
        )
        .orderBy("lang")
    )


_ORACLE_QUALITY_CLF = """
WITH f AS (
  SELECT doc_id, lang,
         round(ln(len(string_split(text, ' '))::DOUBLE), 6) AS log_n_words,
         round(len(list_filter(string_split(text, ' '),
               w -> w IN ('the','a','of','to','and','in','is','it','that','for')))::DOUBLE
               / len(string_split(text, ' ')), 6) AS stop_frac,
         round((len(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
               / len(string_split(text, ' ')), 6) AS avg_word_len,
         round(len(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / len(text), 6)
           AS digit_frac
  FROM documents),
sc AS (
  SELECT lang,
         round(1.0 / (1.0 + exp(-(-1.0 + 0.25 * log_n_words + 6.0 * stop_frac
                                  + -0.10 * avg_word_len + -8.0 * digit_frac))), 6)
           AS q_score
  FROM f)
SELECT lang,
       CAST(sum(CASE WHEN q_score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN q_score >= 0.5 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
       round(avg(q_score), 4) AS avg_score
FROM sc GROUP BY lang ORDER BY lang
"""

QUERIES["quality_classifier"] = q_quality_classifier
ORACLES["quality_classifier"] = _ORACLE_QUALITY_CLF


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube: the four explicit sets over
    (status, priority) with grouping() indicator columns — one shuffle,
    Spark expands the sets map-side (Expand node), no per-set rescan."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        """
    )


_ORACLE_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""

QUERIES["grouping_sets"] = q_grouping_sets
ORACLES["grouping_sets"] = _ORACLE_GROUPING_SETS


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based frame, not row-based): per
    user, the rolling event-value sum over the trailing 1000 event-id
    units; reduced to per-user peak/mean so output stays bounded.
    One shuffle on user_id; the frame is computed by Spark's sliding
    WindowExec within each partition."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rangeBetween(-1000, Window.currentRow)
    )
    rolled = ev.select(
        "user_id", F.sum("value").over(w).alias("rolling")
    )
    return (
        rolled.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("rolling"), 2).alias("peak_rolling"),
            F.round(F.avg("rolling"), 2).alias("avg_rolling"),
        )
        .orderBy("user_id")
    )


_ORACLE_RANGE_FRAME = """
WITH r AS (
  SELECT user_id,
         sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS rolling
  FROM events)
SELECT user_id, count(*) AS n,
       round(max(rolling), 2) AS peak_rolling,
       round(avg(rolling), 2) AS avg_rolling
FROM r GROUP BY user_id ORDER BY user_id
"""

QUERIES["window_range_frame"] = q_window_range_frame
ORACLES["window_range_frame"] = _ORACLE_RANGE_FRAME


def q_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth: supplier is written to CSV, JSON
    lines, and ORC, read back through the matching Spark readers
    (explicit DDL schema — no inference pass), and each read-back is
    aggregated identically.  The oracle computes the same aggregate
    once per format tag straight from parquet, so any format that
    loses type fidelity (doubles through CSV text, strings through
    JSON escaping) hash-mismatches.  Writes land under the repo
    spark-warehouse, keyed by sf so concurrent scales don't clash."""
    import os

    sup = load_table(spark, sf_dir, "supplier")
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "..",
        "spark-warehouse",
        "fmt_roundtrip",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    ddl = ",".join(f"{f.name} {f.dataType.simpleString()}" for f in sup.schema.fields)
    sup.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    sup.write.mode("overwrite").json(f"{base}/json")
    sup.write.mode("overwrite").orc(f"{base}/orc")
    reads = {
        "csv": spark.read.schema(ddl).option("header", True).csv(f"{base}/csv"),
        "json": spark.read.schema(ddl).json(f"{base}/json"),
        "orc": spark.read.orc(f"{base}/orc"),
    }
    parts = []
    for fmt, df in reads.items():
        parts.append(
            df.groupBy(F.lit(fmt).alias("format")).agg(
                F.count("*").alias("n"),
                F.sum("s_suppkey").alias("sum_key"),
                F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
                F.sum("s_nationkey").alias("sum_nation"),
                F.min("s_name").alias("min_name"),
                F.md5(F.max("s_name")).alias("max_name_hash"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("format")


_ORACLE_FORMAT_ROUNDTRIP = """
SELECT f.format, count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS sum_key,
       round(sum(s_acctbal), 2) AS sum_bal,
       CAST(sum(s_nationkey) AS BIGINT) AS sum_nation,
       min(s_name) AS min_name, md5(max(s_name)) AS max_name_hash
FROM supplier, (VALUES ('csv'), ('json'), ('orc')) AS f(format)
GROUP BY f.format ORDER BY f.format
"""

QUERIES["format_roundtrip"] = q_format_roundtrip
ORACLES["format_roundtrip"] = _ORACLE_FORMAT_ROUNDTRIP


def q_jq_native_has_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`has()` and `| not` select predicates compiled natively: the
    program filters on object-key membership plus negated jq
    truthiness, as Catalyst variant expressions (native.py
    _variant_has / _variant_truthy) on the native rows.  The JSON is
    synthesized from events.k so the key-presence and flag-type mix
    is controlled: flag cycles true/false/null/"x", m gains key v
    when k % 3 == 0."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    flag = (
        F.when(k % 4 == 0, F.lit("true"))
        .when(k % 4 == 1, F.lit("false"))
        .when(k % 4 == 2, F.lit("null"))
        .otherwise(F.lit('"x"'))
    )
    m = F.when(k % 3 == 0, F.lit('{"v":1}')).otherwise(F.lit("{}"))
    j = F.concat(
        F.lit('{"k":'), k.cast("string"), F.lit(',"flag":'), flag,
        F.lit(',"m":'), m, F.lit("}"),
    )
    df = ev.select("event_type", j.alias("j"))
    x = jq_explode(
        df,
        "j",
        'select((.flag | not) and (.m | has("v"))) | {k: .k}',
        "k:int",
        native="require",
    )
    return (
        x.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("event_type")
    )


_ORACLE_JQ_HAS_NOT = """
WITH e AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
           FROM events)
SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
FROM e
WHERE (k % 4) IN (1, 2) AND k % 3 = 0
GROUP BY event_type ORDER BY event_type
"""

QUERIES["jq_native_has_not"] = q_jq_native_has_not
ORACLES["jq_native_has_not"] = _ORACLE_JQ_HAS_NOT


# ---------------------------------------------------------------------------
# full-text retrieval: inverted index + BM25 (operators/index.py)
# ---------------------------------------------------------------------------


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: postings (token, doc, tf) via explode +
    map-side-combined groupBy, then per-token index entries (df,
    collection frequency, max tf, bounded posting-list prefix) for
    the hottest tokens.  The posting list is materialized only inside
    a token group and sliced to a bounded prefix — the index entry a
    100 TB build would store for a stopword-grade token."""
    from ..operators.index import index_summary

    docs = load_table(spark, sf_dir, "documents")
    out = index_summary(docs, top=15, sample_cap=5)
    # The operator's posting_prefix is a real array<bigint>; join it to a
    # CSV string for the driver's canonicalizer (which cannot sort/hash
    # list-typed cells).
    return out.withColumn(
        "posting_prefix", F.array_join(F.col("posting_prefix"), ",")
    )


_ORACLE_INVERTED_INDEX = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
tf AS (SELECT token, doc_id, count(*) AS tf
       FROM toks WHERE token <> '' GROUP BY 1, 2)
SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf, max(tf) AS max_tf,
       array_to_string((list_sort(list(doc_id)))[1:5], ',') AS posting_prefix
FROM tf GROUP BY token ORDER BY df DESC, token LIMIT 15
"""

QUERIES["inverted_index"] = q_inverted_index
ORACLES["inverted_index"] = _ORACLE_INVERTED_INDEX


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed 3-term query.  The exploded
    token stream is pruned to the query's terms BEFORE any shuffle;
    df and corpus stats are broadcast (|terms| rows and 1 row)."""
    from ..operators.index import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["vector", "stream", "window"], k=10)


_ORACLE_BM25 = """
WITH dl AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS dl
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf
       FROM toks WHERE token IN ('vector', 'stream', 'window') GROUP BY 1, 2),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
SELECT tf.doc_id,
       round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))), 4)
         AS bm25
FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
"""

QUERIES["bm25_topk"] = q_bm25_topk
ORACLES["bm25_topk"] = _ORACLE_BM25


def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-unigram importance weighting (target = the
    non-English slice), summarized per language: n docs, average
    per-doc log importance weight, and how many docs score positive
    (i.e. would be up-sampled toward the target mix).  The bucket
    distributions are 64-row broadcasts; the rescore is one explode +
    broadcast join + doc_id aggregation."""
    from ..operators.index import importance_weights

    docs = load_table(spark, sf_dir, "documents")
    w = importance_weights(docs, F.col("lang") != "en", buckets=64)
    return (
        w.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("log_weight"), 3).alias("avg_log_weight"),
            F.sum(F.when(F.col("log_weight") > 0, 1).otherwise(0)).alias("n_positive"),
        )
        .orderBy("lang")
    )


_ORACLE_IMPORTANCE = """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
  FROM documents),
b AS (SELECT doc_id, lang,
             ('0x' || substr(md5(token), 1, 15))::BIGINT % 64 AS bucket
      FROM toks),
raw AS (SELECT bucket, count(*) AS raw_n FROM b GROUP BY 1),
tgt AS (SELECT bucket, count(*) AS tgt_n FROM b WHERE lang <> 'en' GROUP BY 1),
dist AS (SELECT r.range AS bucket, coalesce(raw_n, 0) AS raw_n,
                coalesce(tgt_n, 0) AS tgt_n
         FROM range(64) r
         LEFT JOIN raw ON r.range = raw.bucket
         LEFT JOIN tgt ON r.range = tgt.bucket),
tot AS (SELECT sum(raw_n) AS raw_total, sum(tgt_n) AS tgt_total FROM dist),
lr AS (SELECT bucket,
              ln((tgt_n + 1.0) / (tgt_total + 64.0))
              - ln((raw_n + 1.0) / (raw_total + 64.0)) AS log_ratio
       FROM dist CROSS JOIN tot),
w AS (SELECT doc_id, round(sum(log_ratio), 4) AS log_weight
      FROM b JOIN lr USING (bucket) GROUP BY doc_id)
SELECT d.lang, count(*) AS n_docs,
       round(avg(w.log_weight), 3) AS avg_log_weight,
       CAST(sum(CASE WHEN w.log_weight > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
FROM w JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""

QUERIES["importance_weights"] = q_importance_weights
ORACLES["importance_weights"] = _ORACLE_IMPORTANCE


# ---------------------------------------------------------------------------
# CDC / slowly-changing-dimension operators
# ---------------------------------------------------------------------------


def q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state-per-key (CDC compaction) as an AGGREGATION, not a
    window: ``max_by(attr, struct(ts, event_id))`` gets map-side
    partial aggregation — each of 1000 executors reduces its shard to
    one candidate row per key before the shuffle, so the exchange
    carries |keys| rows, not |events|.  The row_number()-over-window
    formulation (the common anti-pattern) shuffles and SORTS the full
    event log per key.  Tie-break on event_id makes it deterministic."""
    ev = load_table(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.where(F.col("user_id") < 40)
        .groupBy("user_id")
        .agg(
            F.max_by("event_type", ordk).alias("last_type"),
            F.round(F.max_by("value", ordk), 4).alias("last_value"),
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n_versions"),
        )
        .orderBy("user_id")
    )


_ORACLE_CDC_LATEST = """
WITH ranked AS (
  SELECT user_id, event_type, value, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_versions,
         max(ts) OVER (PARTITION BY user_id) AS last_ts
  FROM events WHERE user_id < 40)
SELECT user_id, event_type AS last_type, round(value, 4) AS last_value,
       last_ts, n_versions
FROM ranked WHERE rn = 1 ORDER BY user_id
"""

QUERIES["cdc_latest"] = q_cdc_latest
ORACLES["cdc_latest"] = _ORACLE_CDC_LATEST


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals from a change stream: each per-key
    version gets [valid_from, valid_to) with valid_to = next change's
    ts (NULL while current).  One window over (user_id // ts) — the
    shuffle is keyed on user_id only, so the 100 TB layout is one
    exchange + per-key sort, and AQE splits skewed keys.  Population
    scoped to user_id < 12 to keep the gate result bounded."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.where(F.col("user_id") < 12)
        .select(
            "user_id",
            F.row_number().over(w).alias("version"),
            "event_type",
            F.round("value", 4).alias("value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


_ORACLE_SCD2 = """
SELECT user_id,
       row_number() OVER w AS version,
       event_type, round(value, 4) AS value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events WHERE user_id < 12
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""

QUERIES["scd2_history"] = q_scd2_history
ORACLES["scd2_history"] = _ORACLE_SCD2


# ---------------------------------------------------------------------------
# Z-order layout (multi-dimensional clustering for scan pruning)
# ---------------------------------------------------------------------------


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering quality report: interleave the bits
    of two dimensions (user_id, floor(value)), sort, cut into 16
    equal "files", and report each file's per-dimension min/max — the
    footer stats a reader would prune on.  Z-ordered layout keeps BOTH
    ranges tight (a lexicographic sort would leave the second
    dimension's range full-width in every file).  The bit interleave
    is pure codegen arithmetic (shift/and/or), no UDF; at 100 TB this
    is the `CLUSTER BY` key computation before a partitioned write,
    and the report is one groupBy over the sorted bucket id.

    File assignment uses ``global_ntile`` (operators/layout.py): the
    exact ``ntile(16) OVER (ORDER BY z, event_id)`` result computed
    via range-partition + per-partition offsets — never the
    ``Exchange SinglePartition`` global sort that pulls the whole
    table through one task (plan-asserted in test_plans.py)."""
    from ..operators.layout import global_ntile

    ev = load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % 256).cast("long")
    y = (F.floor("value").cast("long") % 256).cast("long")
    z = F.lit(0).cast("long")
    for i in range(8):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    zdf = ev.select("event_id", x.alias("x"), y.alias("y"), z.alias("z"))
    return (
        global_ntile(zdf, ["z", "event_id"], 16)
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .orderBy("file_id")
    )


_ZEXPR = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)

_ORACLE_ZORDER = f"""
WITH zed AS (
  SELECT event_id, user_id % 256 AS x,
         CAST(floor(value) AS BIGINT) % 256 AS y
  FROM events),
zv AS (SELECT x, y, {_ZEXPR} AS z, event_id FROM zed),
filed AS (SELECT x, y, ntile(16) OVER (ORDER BY z, event_id) AS file_id FROM zv)
SELECT file_id, count(*) AS n, min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM filed GROUP BY file_id ORDER BY file_id
"""

QUERIES["zorder_layout"] = q_zorder_layout
ORACLES["zorder_layout"] = _ORACLE_ZORDER


# ---------------------------------------------------------------------------
# HLL distinct counting with a VERIFIED error bound
# ---------------------------------------------------------------------------


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type with a VERIFIED
    relative-error bound — the 100 TB shape for COUNT(DISTINCT):
    ``approx_count_distinct`` is a fixed-size mergeable sketch
    (map-side partials, one shuffle of sketch bytes), vs exact
    distinct's full shuffle of every (group, user) pair.  Sketch
    estimates are engine-specific, so the query emits the exact count
    plus a bound check (|approx − exact| ≤ 5·rsd·exact, >3σ slack on
    the sketch's standard error): the oracle is the deterministic
    exact+all-true table, and the row still fails if the sketch ever
    blows its bound (same pattern as approx_percentiles)."""
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.02
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx"),
        F.countDistinct("user_id").alias("n_users"),
    )
    ok = (
        F.abs(F.col("approx") - F.col("n_users"))
        <= F.lit(5 * rsd) * F.col("n_users")
    )
    return agg.select(
        "event_type", "n_users", ok.alias("bound_ok")
    ).orderBy("event_type")


_ORACLE_HLL = """
SELECT event_type, count(DISTINCT user_id) AS n_users, TRUE AS bound_ok
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES["hll_distinct"] = q_hll_distinct
ORACLES["hll_distinct"] = _ORACLE_HLL


# ---------------------------------------------------------------------------
# batch sessionization + DSIR importance resampling
# ---------------------------------------------------------------------------


def q_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in BATCH: a session breaks after 30
    idle minutes.  Classic two-window formulation — lag() marks
    session starts, a running sum numbers them — so the whole operator
    is ONE shuffle on user_id plus a per-key sort; no applyInPandas,
    no state store.  At 100 TB this is the shape that wins: the
    exchange is keyed by user only, AQE handles skewed users, and the
    session aggregation reuses the same partitioning (no second
    shuffle)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "value",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_seq"),
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("started"),
            F.max("ts").alias("ended"),
            F.round(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1e6, 3
            ).alias("duration_sec"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


_ORACLE_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE user_id < 30
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM marked)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts) AS started, max(ts) AS ended,
       round(epoch(max(ts) - min(ts)), 3) AS duration_sec,
       round(sum(value), 4) AS total_value
FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq
"""

QUERIES["batch_sessionize"] = q_batch_sessionize
ORACLES["batch_sessionize"] = _ORACLE_SESSIONIZE


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR end-to-end: hashed-unigram importance weights toward the
    non-English target slice, then a DETERMINISTIC Gumbel-top-k
    resample of 25 docs (seeded md5 noise, reproducible across
    engines/partitionings).  Emits the sampled docs with their weight
    and sample key."""
    from ..operators.index import importance_resample, importance_weights

    docs = load_table(spark, sf_dir, "documents")
    w = importance_weights(docs, F.col("lang") != "en", buckets=64)
    s = importance_resample(w, k=25, seed="r2")
    return (
        s.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "log_weight", "sample_key")
        .orderBy(F.desc("sample_key"), "doc_id")
    )


_ORACLE_RESAMPLE = """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
  FROM documents),
b AS (SELECT doc_id, lang,
             ('0x' || substr(md5(token), 1, 15))::BIGINT % 64 AS bucket
      FROM toks),
raw AS (SELECT bucket, count(*) AS raw_n FROM b GROUP BY 1),
tgt AS (SELECT bucket, count(*) AS tgt_n FROM b WHERE lang <> 'en' GROUP BY 1),
dist AS (SELECT r.range AS bucket, coalesce(raw_n, 0) AS raw_n,
                coalesce(tgt_n, 0) AS tgt_n
         FROM range(64) r
         LEFT JOIN raw ON r.range = raw.bucket
         LEFT JOIN tgt ON r.range = tgt.bucket),
tot AS (SELECT sum(raw_n) AS raw_total, sum(tgt_n) AS tgt_total FROM dist),
lr AS (SELECT bucket,
              ln((tgt_n + 1.0) / (tgt_total + 64.0))
              - ln((raw_n + 1.0) / (raw_total + 64.0)) AS log_ratio
       FROM dist CROSS JOIN tot),
w AS (SELECT doc_id, round(sum(log_ratio), 4) AS log_weight
      FROM b JOIN lr USING (bucket) GROUP BY doc_id),
keyed AS (
  SELECT doc_id, log_weight,
         round(log_weight
               - ln(-ln((('0x' || substr(md5('r2' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1.0)
                        / (1152921504606846976.0 + 1.0))), 4) AS sample_key
  FROM w)
SELECT k.doc_id, d.lang, k.log_weight, k.sample_key
FROM (SELECT * FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 25) k
JOIN documents d USING (doc_id)
ORDER BY sample_key DESC, k.doc_id
"""

QUERIES["importance_resample"] = q_importance_resample
ORACLES["importance_resample"] = _ORACLE_RESAMPLE


# Round-3 queries register themselves into QUERIES/ORACLES on import.
# Kept in a separate module so this file stops growing; the import
# must stay at the very bottom (it imports QUERIES from here).
from . import queries_r3  # noqa: E402,F401  isort:skip
from . import queries_r4  # noqa: E402,F401  isort:skip
from . import queries_r5  # noqa: E402,F401  isort:skip
from . import queries_r5b  # noqa: E402,F401  isort:skip
from . import queries_r5c  # noqa: E402,F401  isort:skip
from . import queries_r5d  # noqa: E402,F401  isort:skip
from . import queries_r5e  # noqa: E402,F401  isort:skip
from . import queries_r5f  # noqa: E402,F401  isort:skip
from . import queries_r5g  # noqa: E402,F401  isort:skip
from . import queries_r5h  # noqa: E402,F401  isort:skip
from . import queries_r6  # noqa: E402,F401  isort:skip
from . import queries_r7  # noqa: E402,F401  isort:skip
from . import queries_r7b  # noqa: E402,F401  isort:skip
from . import queries_r7c  # noqa: E402,F401  isort:skip
from . import queries_r8  # noqa: E402,F401  isort:skip
from . import queries_r9  # noqa: E402,F401  isort:skip
from . import queries_r10  # noqa: E402,F401  isort:skip

from . import queries_r11  # noqa: E402,F401  isort:skip
from . import queries_r12  # noqa: E402,F401  isort:skip
from . import queries_r13  # noqa: E402,F401  isort:skip
from . import queries_r14  # noqa: E402,F401  isort:skip
