"""Round-3 operator queries: correlated-subquery relational shapes,
Bloom-pruned semi join, stream-static enrichment, sparse-vector
similarity, LM-based quality scoring, fuzzy record linkage, PageRank.

Registered into the shared QUERIES/ORACLES dicts (imported at the
bottom of plans/queries.py), same contract as every other query:
``fn(spark, sf_dir) -> DataFrame`` plus a DuckDB oracle producing
identical columns.

Host-engine rationale (SURVEY.md §2.3): the reference delegates ALL
relational composition to its host engine; correlated subqueries are
host surface a reference user exercises daily
(`JsonQueryUDTF.java:74` only ever forwards rows), so they belong in
the parity inventory even though the reference itself contains no
join code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table, stream_events
from .queries import (ORACLES, QUERIES, _STREAM_QUERY_SEQ,
                      _stream_checkpoint_root, _stream_shuffle)


def _register(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Correlated subqueries (TPC-H Q4 / Q17 / Q16 shapes)
#
# Expressed through spark.sql on purpose: Catalyst's RewriteSubquery
# rules turn EXISTS into LeftSemi, NOT IN into null-aware LeftAnti,
# and the correlated scalar aggregate into an aggregated LeftOuter —
# the plan the 100 TB run wants, with no hand-written join tricks.
# ---------------------------------------------------------------------------


def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of 1996 orders having at
    least one lineitem shipped after the order date (EXISTS → left
    semi join on the fact side; at scale the orders/lineitem exchange
    is keyed on orderkey and AQE handles the skew)."""
    _register(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


_ORACLE_ORDER_PRIORITY_EXISTS = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-half-average-quantity
    lineitems of one brand — a CORRELATED SCALAR subquery per part,
    which Catalyst rewrites into one aggregate over lineitem joined
    back on partkey (two shuffles total, both on partkey, reusable
    partitioning)."""
    _register(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#4'
          AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey)
        """
    )


_ORACLE_SMALL_QTY = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#4'
  AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


def q_supplier_parts_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per brand for parts
    whose size appears among PROMO sizes (uncorrelated IN → left
    semi) excluding suppliers with negative balance (NOT IN →
    null-aware left anti). Both rewrites stay broadcast-able: the
    subquery sides are tiny dimension scans."""
    _register(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(
        """
        SELECT p_brand, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size IN (SELECT DISTINCT p_size FROM part WHERE p_type = 'PROMO')
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand
        ORDER BY supplier_cnt DESC, p_brand
        """
    )


_ORACLE_SUPPLIER_PARTS_IN = """
SELECT p_brand, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size IN (SELECT DISTINCT p_size FROM part WHERE p_type = 'PROMO')
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand
ORDER BY supplier_cnt DESC, p_brand
"""


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit Bloom pre-filter on the fact side.

    Build: 3 xxhash64 positions per PROMO partkey into an m=2^16 bit
    space, packed into a dense 1024-long bitmap (8 KB) that
    broadcasts to every probe task. Probe: a lineitem row survives
    only if ALL its 3 bits are set (O(1) word-index + bit-test per
    position, pure codegen) — no false negatives, so the final exact
    semi join returns IDENTICAL results to the plain semi join (the
    oracle).  This is the runtime-filter
    shape Spark applies to shuffle joins at scale: the fact scan
    drops most rows before the exchange instead of after it.  The
    exact semi join still runs afterwards, so bloom false positives
    never leak into the answer.
    """
    m = 1 << 16
    seeds = (1, 2, 3)
    lineitem = load_table(spark, sf_dir, "lineitem")
    promo_keys = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
        .distinct()
    )

    # positions as SQL fragments so BOTH sides hash identical types
    # (xxhash64 is type-sensitive: an INT seed and a LONG seed hash
    # differently — a mismatch would silently create false negatives)
    def position_sql(col: str, seed: int) -> str:
        return f"pmod(xxhash64({col}, {seed}L), {m})"

    # PACKED BITMAP, not a sorted position array: m bits as m/64
    # longs.  The earlier array_contains form was an O(|set|) linear
    # scan per probe (~3-4 s at sf0.1 with ~10k set positions); the
    # bitmap probe is O(1) — word index + bit test, pure codegen
    # (~0.1 s warm).  Build: per-position (word, bit) rows → bit_or
    # per word → densify to a fixed 1024-long array via a transform
    # over the word index (absent words → 0).  A HOF, but it runs
    # ONCE over 1024 elements on the build side, never per probe row.
    words = (
        promo_keys.select(
            F.explode(
                F.array(
                    *[F.expr(position_sql("p_partkey", s)) for s in seeds]
                )
            ).alias("pos")
        )
        .select(
            F.expr("CAST(pos DIV 64 AS BIGINT) AS w"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT)) AS bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    bitmap = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("mp")
    ).select(
        F.expr(
            f"transform(sequence(0L, {m // 64 - 1}L), i -> coalesce(mp[i], 0L))"
            " AS bm"
        )
    )
    member = None
    for s in seeds:
        p = position_sql("l_partkey", s)
        c = F.expr(
            f"(shiftrightunsigned(bm[CAST({p} DIV 64 AS INT)],"
            f" CAST({p} % 64 AS INT)) & 1L) = 1L"
        )
        member = c if member is None else (member & c)
    candidates = lineitem.join(F.broadcast(bitmap)).where(member).drop("bm")
    return (
        candidates.join(
            F.broadcast(promo_keys),
            candidates["l_partkey"] == promo_keys["p_partkey"],
            "left_semi",
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


_ORACLE_BLOOM_SEMI = """
SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Stream-static enrichment join
# ---------------------------------------------------------------------------


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched with a STATIC broadcast dimension
    (customer market segment) — the standard streaming-ETL shape: the
    static side is planned once per micro-batch, broadcast, no state
    store involved.  Counts per (segment, event_type) at end-of-stream
    equal the batch join (the oracle)."""
    customers = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    raw = stream_events(spark, sf_dir).select("user_id", "event_type", "value")
    enriched = raw.join(
        F.broadcast(customers), raw["user_id"] == customers["c_custkey"], "inner"
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("sum_value")
    )
    _STREAM_QUERY_SEQ[0] += 1
    name = f"stream_static_{_STREAM_QUERY_SEQ[0]}"
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming query did not finish within 300s")
    return spark.table(name).orderBy("c_mktsegment", "event_type")


_ORACLE_STREAM_STATIC = """
SELECT c_mktsegment, event_type, count(*) AS n,
       round(sum(value), 3) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Unigram-LM perplexity scoring (training-data quality gate)
# ---------------------------------------------------------------------------


def q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy (bits/token) under the LM
    trained on the corpus itself — the classic cheap fluency gate in
    LLM-data pipelines (documents far above the corpus-typical
    bits/token are boilerplate or noise).  Two aggregations: vocab
    counts (shuffle on token, map-side combined) then per-doc scoring
    with the vocab BROADCAST back (a real vocab is ~1M rows ≪ corpus;
    at the point a vocab outgrows broadcast this becomes a shuffle
    join on token, same plan shape).  No OOV smoothing needed: the
    model is trained on the scored corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("token"),
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n"))
    p = vocab.crossJoin(F.broadcast(tot)).select(
        "token", (F.col("cnt") / F.col("n")).alias("p")
    )
    return (
        toks.join(F.broadcast(p), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log2("p")), 4).alias("avg_bits"),
        )
        .orderBy("doc_id")
    )


_ORACLE_UNIGRAM_PPL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
  FROM documents),
v AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT sum(cnt) AS n FROM v),
p AS (SELECT token, cnt * 1.0 / n AS p FROM v CROSS JOIN tot)
SELECT doc_id, count(*) AS n_tokens, round(avg(-log2(p)), 4) AS avg_bits
FROM toks JOIN p USING (token)
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine fused by reciprocal rank
# ---------------------------------------------------------------------------


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: lexical BM25 ranking and dense-vector cosine
    ranking fused with Reciprocal Rank Fusion
    (rrf = Σ 1/(60 + rank), Cormack & Clarke's constant).  The two
    rankings run independently (each already scale-shaped: BM25
    prunes to query terms pre-shuffle, the dense side broadcasts one
    query vector over the corpus scan), and the fusion is a tiny
    full-outer join of two k-row rankings.  Cosines are rounded to
    6 dp BEFORE ranking so rank order is identical across engines."""
    from ..operators.index import bm25_topk
    from ..operators.similarity import dot_col, norm_col

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    k = 50

    lex = bm25_topk(docs, ["vector", "stream", "window"], k=k)
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("lex_rank"),
    )

    # deterministic query vector: element-wise mean of embeddings 0-4
    qmeans = (
        emb.where(F.col("vec_id") < 5)
        .select(F.posexplode("embedding"))
        .groupBy("pos")
        .agg(F.avg("col").alias("v"))
    )
    qrow = qmeans.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("qv")
    )
    dense = emb.crossJoin(F.broadcast(qrow)).select(
        "vec_id",
        F.round(
            dot_col(F.col("embedding"), F.col("qv"))
            / (norm_col(F.col("embedding")) * norm_col(F.col("qv"))),
            6,
        ).alias("cos"),
    )
    denser = (
        dense.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
        .select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cos"), F.asc("vec_id")))
            .alias("dense_rank"),
        )
    )

    fused = (
        lexr.join(denser, lexr["doc_id"] == denser["vec_id"], "full_outer")
        .select(
            F.coalesce("doc_id", "vec_id").alias("doc_id"),
            (
                F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("dense_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
        .select("doc_id", F.round("rrf", 6).alias("rrf"))
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(10)


_ORACLE_HYBRID_RRF = """
WITH dl AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS dl
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf
       FROM toks WHERE token IN ('vector', 'stream', 'window') GROUP BY 1, 2),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
bm25 AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))), 4)
           AS bm25
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
lexr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
         FROM bm25),
qm AS (
  SELECT i, avg(e) AS v
  FROM (SELECT unnest(embedding::DOUBLE[]) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id < 5)
  GROUP BY i),
qv AS (SELECT list(v ORDER BY i) AS qv FROM qm),
dense AS (
  SELECT vec_id,
         round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cos
  FROM embeddings CROSS JOIN qv),
densetop AS (SELECT vec_id, cos FROM dense ORDER BY cos DESC, vec_id LIMIT 50),
denser AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS dense_rank
           FROM densetop),
fused AS (
  SELECT coalesce(l.doc_id, d.vec_id) AS doc_id,
         round(coalesce(1.0 / (60 + lex_rank), 0)
               + coalesce(1.0 / (60 + dense_rank), 0), 6) AS rrf
  FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.vec_id)
SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# Fuzzy record linkage (blocked Jaro-Winkler)
# ---------------------------------------------------------------------------


def q_jw_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: a probe batch of deterministically corrupted
    customer names (one digit deleted, position keyed by custkey) is
    matched back to the master table with Jaro-Winkler ≥ 0.985,
    blocking on nation so candidates are bounded by block size — the
    never-all-pairs contract.  The Python JW kernel is verified
    bit-equal to DuckDB's jaro_winkler_similarity (the oracle)."""
    from ..operators.linkage import blocked_jw_match

    cust = load_table(spark, sf_dir, "customer")
    master = cust.select(
        F.col("c_nationkey").alias("block"),
        F.col("c_custkey").alias("m_key"),
        F.col("c_name").alias("m_name"),
    )
    probes = cust.where(F.col("c_custkey") < 200).select(
        F.col("c_nationkey").alias("block"),
        F.col("c_custkey").alias("p_key"),
        F.concat(
            F.expr("substring(c_name, 1, (10 + c_custkey % 8) - 1)"),
            F.expr("substring(c_name, (10 + c_custkey % 8) + 1, 100)"),
        ).alias("p_name"),
    )
    out = blocked_jw_match(
        probes, master, "block", "p_name", "m_name", threshold=0.985
    )
    return out.select("p_key", "m_key", "jw").orderBy("p_key", "m_key")


_ORACLE_JW_LINKAGE = """
WITH probes AS (
  SELECT c_nationkey AS block, c_custkey AS p_key,
         concat(substr(c_name, 1, (10 + c_custkey % 8) - 1),
                substr(c_name, (10 + c_custkey % 8) + 1, 100)) AS p_name
  FROM customer WHERE c_custkey < 200)
SELECT p_key, m.c_custkey AS m_key,
       round(jaro_winkler_similarity(p_name, m.c_name), 4) AS jw
FROM probes JOIN customer m ON probes.block = m.c_nationkey
WHERE round(jaro_winkler_similarity(p_name, m.c_name), 4) >= 0.985
ORDER BY p_key, m_key
"""


# ---------------------------------------------------------------------------
# Product-analytics family: grouped OLS, funnel, retention, TWA
#
# Classic warehouse analytics a reference user runs downstream of the
# jq extraction; all pure JVM aggregates/windows (no Python), all
# one-or-two-shuffle shapes that survive 100 TB.
# ---------------------------------------------------------------------------


def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of value against the jq-extracted metric k —
    regr_slope/regr_intercept/regr_r2 are single-pass commutative
    aggregates (sum/sum², map-side combined), the right shape for a
    trillion-row fit."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("double").alias("x"),
        F.col("value").alias("y"),
    ).where(F.col("x").isNotNull())
    return (
        pts.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


_ORACLE_GROUPED_REGRESSION = """
SELECT event_type, count(*) AS n,
       round(regr_slope(y, x), 6) AS slope,
       round(regr_intercept(y, x), 6) AS intercept,
       round(regr_r2(y, x), 6) AS r2
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS DOUBLE) AS x,
             value AS y
      FROM events)
WHERE x IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: per user, first view → first click after that
    view → first purchase after that click; conversion counts per
    step.  One aggregation per step over the SAME user partitioning
    (min-timestamps with conditional filters), no self-joins — the
    funnel shape that scales to billions of users."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    with_click = (
        ev.join(firsts, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click"),
        )
    )
    with_purchase = (
        ev.join(with_click, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
    )
    return with_purchase.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("step_view"),
        F.count("t_click").alias("step_click"),
        F.count("t_purchase").alias("step_purchase"),
    )


_ORACLE_FUNNEL = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id),
wc AS (
  SELECT e.user_id, any_value(f.t_view) AS t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts > f.t_view
                  THEN e.ts END) AS t_click
  FROM events e JOIN firsts f USING (user_id) GROUP BY e.user_id),
wp AS (
  SELECT e.user_id, any_value(w.t_view) AS t_view,
         any_value(w.t_click) AS t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > w.t_click
                  THEN e.ts END) AS t_purchase
  FROM events e JOIN wc w USING (user_id) GROUP BY e.user_id)
SELECT count(*) AS n_users,
       count(t_view) AS step_view,
       count(t_click) AS step_click,
       count(t_purchase) AS step_purchase
FROM wp
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted distinct in each subsequent week offset.  Two
    aggregations on user_id then one on (cohort, offset) — the
    standard mass-scale cohort shape (no per-user state, no window
    over the full stream)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    week = (F.floor(F.unix_timestamp("ts") / F.lit(7 * 24 * 3600))).cast("long")
    seen = ev.select("user_id", week.alias("week")).distinct()
    cohorts = seen.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        seen.join(cohorts, "user_id")
        .where(F.col("week") - F.col("cohort") <= 4)
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort", "offset")
    )


_ORACLE_RETENTION = """
WITH seen AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events),
cohorts AS (SELECT user_id, min(week) AS cohort FROM seen GROUP BY user_id)
SELECT cohort, week - cohort AS offset, count(DISTINCT s.user_id) AS n_users
FROM seen s JOIN cohorts c USING (user_id)
WHERE week - cohort <= 4
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value` (each reading holds
    until the next event; last reading carries no weight): lead()
    over the per-user time order, then one aggregation — the
    hypertable/LOCF aggregate, one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 25)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
    seg = ev.select("user_id", "value", dt.alias("dt"))
    return (
        seg.where(F.col("dt").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 4
            ).alias("twa"),
            F.count("*").alias("n_segments"),
        )
        .orderBy("user_id")
    )


_ORACLE_TWA = """
WITH seg AS (
  SELECT user_id, value,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dt
  FROM events WHERE user_id < 25)
SELECT user_id, round(sum(value * dt) / sum(dt), 4) AS twa,
       count(*) AS n_segments
FROM seg WHERE dt IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# PageRank (fixed-iteration, exact SQL-unrolled oracle)
# ---------------------------------------------------------------------------


def q_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected supplier↔part graph from lineitem
    (edges both directions, so no dangling nodes), 10 iterations,
    d=0.85.  Each iteration is one join + one aggregation, both
    hash-partitioned on the node id; lineage truncated by
    localCheckpoint every second iteration (``checkpoint_every=2``,
    operators/pagerank.py).  The
    oracle unrolls the identical 10 steps as chained CTEs."""
    from ..operators.pagerank import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000000000).alias("dst"),
    ).distinct()
    edges = sp.union(sp.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # shuffle width scoped to the NODE set (21k at sf0.1) — the rank
    # frame pays per-partition scheduling every iteration.
    # checkpoint_every=2 (r10 A/B: c2 3.15-3.58 s vs c3 3.47-3.81 s
    # warm; AQE ON is load-bearing — 5.3-7.3 s without).  r15: the
    # initial rank frame is now eager-checkpointed inside pagerank(),
    # so all 5 two-step jobs compile to ONE plan shape (janino cache
    # hits from job 2 on); a checkpoint-every-1 variant was
    # interleave-A/B'd and measured SLOWER warm (min 4.02 vs 3.38 s —
    # 5 extra job launches cost more than the codegen they save)
    pr = pagerank(
        edges, iterations=10, damping=0.85, shuffle_partitions=8,
        checkpoint_every=2,
    )
    return (
        pr.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(50)
    )


def _pagerank_oracle(iterations: int = 10) -> str:
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"r{i} AS (SELECT e.dst AS node,"
            f" 0.15 / (SELECT n FROM nn) + 0.85 * sum(r{i-1}.rank * e.w) AS rank"
            f" FROM ce e JOIN r{i-1} ON e.src = r{i-1}.node GROUP BY e.dst)"
        )
    unrolled = ",\n".join(steps)
    return f"""
WITH sp AS (SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000000000 AS dst
            FROM lineitem),
edges AS (SELECT src, dst FROM sp UNION ALL SELECT dst, src FROM sp),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
ce AS (SELECT e.src, e.dst, 1.0 / d.outdeg AS w
       FROM edges e JOIN deg d ON e.src = d.src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{unrolled}
SELECT node, round(rank, 6) AS rank FROM r{iterations}
ORDER BY rank DESC, node LIMIT 50
"""


# ---------------------------------------------------------------------------
# Sessionized funnel (composition: gap-sessionization × ordered funnel)
# ---------------------------------------------------------------------------


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within each 30-min-gap session, did a click follow the first
    view?  Sessionization is the lag()+running-sum two-window shape
    (one shuffle on user_id), the funnel is conditional min-timestamps
    per (user, session) on the SAME partitioning — the whole operator
    is one exchange end-to-end."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"),
    )
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    funnel = (
        sess.join(per_session, ["user_id", "session_seq"])
        .groupBy("user_id", "session_seq")
        .agg(
            F.first("t_view").alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click"),
        )
    )
    return funnel.agg(
        F.count("*").alias("n_sessions"),
        F.count("t_view").alias("n_with_view"),
        F.count("t_click").alias("n_view_then_click"),
    )


_ORACLE_SESSION_FUNNEL = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE user_id < 50
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, event_type, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM marked),
pv AS (
  SELECT user_id, session_seq,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM sess GROUP BY 1, 2),
funnel AS (
  SELECT s.user_id, s.session_seq, any_value(p.t_view) AS t_view,
         min(CASE WHEN s.event_type = 'click' AND s.ts > p.t_view
                  THEN s.ts END) AS t_click
  FROM sess s JOIN pv p USING (user_id, session_seq)
  GROUP BY 1, 2)
SELECT count(*) AS n_sessions,
       count(t_view) AS n_with_view,
       count(t_click) AS n_view_then_click
FROM funnel
"""


# ---------------------------------------------------------------------------
# Data-quality constraint checking (Deequ-style, one pass)
# ---------------------------------------------------------------------------


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rules evaluated in ONE aggregation
    pass over the fact table (completeness, uniqueness, range, set
    membership) plus one anti-join for referential integrity — the
    constraint-suite shape (Schelter et al.'s Deequ) a production
    pipeline bolts onto every ingest.  Output: one row per rule with
    its metric and pass flag."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    n = F.count("*")
    one_pass = orders.agg(
        n.alias("n_rows"),
        (F.count("o_custkey") / n).alias("completeness_custkey"),
        (F.count_distinct("o_orderkey") / n).alias("uniqueness_orderkey"),
        (F.sum(F.when(F.col("o_totalprice") > 0, 1).otherwise(0)) / n).alias(
            "range_totalprice_pos"
        ),
        (
            F.sum(
                F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
            )
            / n
        ).alias("set_orderstatus"),
    )
    orphans = (
        orders.join(
            F.broadcast(cust),
            orders["o_custkey"] == cust["c_custkey"],
            "left_anti",
        )
        .agg(F.count("*").alias("n_orphans"))
    )
    m = one_pass.crossJoin(orphans)
    rules = [
        ("completeness_custkey", F.col("completeness_custkey"), F.col("completeness_custkey") == 1.0),
        ("uniqueness_orderkey", F.col("uniqueness_orderkey"), F.col("uniqueness_orderkey") == 1.0),
        ("range_totalprice_pos", F.col("range_totalprice_pos"), F.col("range_totalprice_pos") == 1.0),
        ("set_orderstatus", F.col("set_orderstatus"), F.col("set_orderstatus") == 1.0),
        ("ref_integrity_custkey", F.lit(1.0) - F.col("n_orphans") / F.col("n_rows"), F.col("n_orphans") == 0),
    ]
    out = m.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.round(metric.cast("double"), 6).alias("metric"),
                        passed.alias("passed"),
                    )
                    for name, metric, passed in rules
                ]
            )
        ).alias("r")
    ).select("r.rule", "r.metric", "r.passed")
    return out.orderBy("rule")


_ORACLE_DQ = """
WITH one_pass AS (
  SELECT count(*) AS n_rows,
         count(o_custkey) * 1.0 / count(*) AS completeness_custkey,
         count(DISTINCT o_orderkey) * 1.0 / count(*) AS uniqueness_orderkey,
         sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) * 1.0 / count(*) AS range_totalprice_pos,
         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) * 1.0 / count(*) AS set_orderstatus
  FROM orders),
orphans AS (
  SELECT count(*) AS n_orphans FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
m AS (SELECT * FROM one_pass CROSS JOIN orphans)
SELECT rule, round(metric, 6) AS metric, passed FROM (
  SELECT 'completeness_custkey' AS rule, completeness_custkey AS metric,
         completeness_custkey = 1.0 AS passed FROM m
  UNION ALL
  SELECT 'uniqueness_orderkey', uniqueness_orderkey, uniqueness_orderkey = 1.0 FROM m
  UNION ALL
  SELECT 'range_totalprice_pos', range_totalprice_pos, range_totalprice_pos = 1.0 FROM m
  UNION ALL
  SELECT 'set_orderstatus', set_orderstatus, set_orderstatus = 1.0 FROM m
  UNION ALL
  SELECT 'ref_integrity_custkey', 1.0 - n_orphans * 1.0 / n_rows, n_orphans = 0 FROM m)
ORDER BY rule
"""


# ---------------------------------------------------------------------------
# Key-skew diagnostics report
# ---------------------------------------------------------------------------


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile for events.user_id: per-key counts in
    one map-side-combined aggregation, then the tiny per-key
    distribution is summarized (share of the hottest keys, tail
    ratios).  This is the diagnostic you run BEFORE choosing
    salting/AQE-skew-join mitigations; at 100 TB the per-key count
    table is the only shuffled data (|keys| rows)."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    stats = per_key.agg(
        F.sum("cnt").alias("total"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.expr("percentile(cnt, 0.5)").alias("p50"),
        F.expr("percentile(cnt, 0.99)").alias("p99"),
    )
    top = (
        per_key.orderBy(F.desc("cnt"), "user_id")
        .limit(5)
        .agg(F.sum("cnt").alias("top5_cnt"))
    )
    return (
        stats.crossJoin(top)
        .select(
            "n_keys",
            "total",
            "max_cnt",
            F.round(F.col("max_cnt") / F.col("total"), 6).alias("max_share"),
            F.round(F.col("top5_cnt") / F.col("total"), 6).alias("top5_share"),
            F.round(F.col("p99") / F.col("p50"), 4).alias("p99_over_p50"),
        )
    )


_ORACLE_SKEW = """
WITH per_key AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
stats AS (
  SELECT sum(cnt) AS total, count(*) AS n_keys, max(cnt) AS max_cnt,
         quantile_cont(cnt, 0.5) AS p50, quantile_cont(cnt, 0.99) AS p99
  FROM per_key),
top AS (SELECT sum(cnt) AS top5_cnt
        FROM (SELECT cnt FROM per_key ORDER BY cnt DESC, user_id LIMIT 5))
SELECT n_keys, CAST(total AS BIGINT) AS total, max_cnt,
       round(max_cnt * 1.0 / total, 6) AS max_share,
       round(top5_cnt * 1.0 / total, 6) AS top5_share,
       round(p99 * 1.0 / p50, 4) AS p99_over_p50
FROM stats CROSS JOIN top
"""


# ---------------------------------------------------------------------------
# Native-tier round-3 growth showcase (arrayfns / gsub / if-else /
# projected predicates / split-index — all pure codegen)
# ---------------------------------------------------------------------------


def q_jq_native_arrayfns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 native-compiler growth, end-to-end: per-order JSON docs
    are built with to_json (a realistic produce-then-process round
    trip), then a jq program using array functions (add/max/first/
    sort), gsub, a projected regex predicate, split-index, and an
    if/else — compiled ENTIRELY to Catalyst expressions
    (native='require': the test fails loudly if any construct falls
    back to Python).  The oracle recomputes every output straight
    from the base tables."""
    from ..udtf import jq_explode

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    lineitem = load_table(spark, sf_dir, "lineitem")
    docs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.sort_array(F.collect_list("l_quantity")).alias("qtys"),
            F.first("o_orderpriority").alias("prio"),
        )
        .select(
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("id"), "qtys", "prio"
                )
            ).alias("j")
        )
    )
    out = jq_explode(
        docs,
        "j",
        '{id: .id, total: (.qtys | add), mx: (.qtys | max),'
        ' first_q: (.qtys | first), sorted_q: (.qtys | sort),'
        ' pr: (.prio | gsub("[ -]"; "_")),'
        ' urgent: (.prio | test("URGENT")),'
        ' head: (.prio | split("-")[0]),'
        ' band: (if .id > 1000 then "hi" else "lo" end)}',
        "id:long",
        "total:double",
        "mx:double",
        "first_q:double",
        "sorted_q:array<double>",
        "pr:string",
        "urgent:boolean",
        "head:string",
        "band:string",
        native="require",
    )
    # Driver-gate convention: no bare array/map columns in checked
    # outputs (the harness canonicalizer sorts with pandas and dies on
    # unhashable list cells — CORRECTNESS_r04 err). The native tier
    # still sorts the array<double>; we serialize it AFTER the UDTF.
    # Quantities are integral doubles, so cast→bigint makes the joined
    # string formatting-stable across Spark and DuckDB.
    return (
        out.drop("j")
        .withColumn(
            "sorted_q",
            F.array_join(
                F.transform("sorted_q", lambda x: x.cast("bigint")), ","
            ),
        )
        .orderBy("id")
    )


_ORACLE_NATIVE_ARRAYFNS = """
SELECT o_orderkey AS id,
       sum(l_quantity) AS total,
       max(l_quantity) AS mx,
       min(l_quantity) AS first_q,
       array_to_string(list(CAST(l_quantity AS BIGINT) ORDER BY l_quantity), ',') AS sorted_q,
       regexp_replace(any_value(o_orderpriority), '[ -]', '_', 'g') AS pr,
       any_value(o_orderpriority) LIKE '%URGENT%' AS urgent,
       split_part(any_value(o_orderpriority), '-', 1) AS head,
       CASE WHEN o_orderkey > 1000 THEN 'hi' ELSE 'lo' END AS band
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey < 2000
GROUP BY o_orderkey
ORDER BY id
"""


# ---------------------------------------------------------------------------
# Streaming dedup WITHIN WATERMARK (duplicate-bearing staged source)
# ---------------------------------------------------------------------------


# process-lifetime staged source dirs, keyed by (kind, sf_dir): the
# staged bytes are identical across runs, so bench's cold+timed passes
# and repeated selfchecks reuse one directory instead of re-copying
# the corpus every call (VERDICT r3 #8)
_STAGE_CACHE: dict[tuple, str] = {}


def _staged_dir(kind: str, sf_dir: str, build) -> str:
    import os
    import tempfile

    key = (kind, sf_dir)
    d = _STAGE_CACHE.get(key)
    if d and os.path.isdir(d) and os.listdir(d):
        return d
    # staged stream sources live on the tmpfs checkpoint root (r8):
    # re-scanned by every stream start, and the root's atexit cleanup
    # removes them with the checkpoints
    from .queries import _stream_checkpoint_root

    d = tempfile.mkdtemp(prefix=f"{kind}_", dir=_stream_checkpoint_root())
    build(d)
    _STAGE_CACHE[key] = d
    return d


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a source that actually
    carries duplicates: the events file staged TWICE, one file per
    micro-batch, so every event arrives again in the second batch and
    must be suppressed by keyed state.  Unlike plain dropDuplicates,
    state is evicted once the watermark passes event-time + delay —
    the bounded-state contract for unbounded streams; the delay (365
    days ≫ the 30-day corpus span ≫ the one-trigger duplicate lag)
    guarantees no key expires between the two arrivals, so the output
    equals the batch distinct (the oracle)."""
    import os
    import shutil

    def _build(d: str) -> None:
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"), os.path.join(d, "a.parquet")
        )
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"), os.path.join(d, "b.parquet")
        )

    d = _staged_dir("dupsrc", sf_dir, _build)
    raw = stream_events(
        spark, d, glob=None, reader_options={"maxFilesPerTrigger": "1"}
    )
    # project BEFORE the dedup: only the key, the watermark column and
    # the output column ride the shuffle into keyed state — props (the
    # fat JSON string) never leaves the scan
    dd = (
        raw.select("ts", "event_id", "event_type")
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _STREAM_QUERY_SEQ[0] += 1
    name = f"dedup_wm_{_STREAM_QUERY_SEQ[0]}"
    with _stream_shuffle(spark):
        q = (
            dd.select("event_id", "event_type")
            .writeStream.format("memory")
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
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("event_id").alias("n_distinct"),
        )
        .orderBy("event_type")
    )


_ORACLE_STREAM_DEDUP_WM = """
SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Product-quantization ANN (ADC probe)
# ---------------------------------------------------------------------------


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ approximate top-k: 8 subspaces × 16 sub-centroids (the
    sub-vectors of embeddings 0-15, externally supplied and
    deterministic like the IVF cells), corpus encoded once in an
    Arrow pass (256 B vector → 8 codes), queries probed via the ADC
    lookup table in pure codegen.  Every float op is replicated
    term-for-term in the generated SQL oracle, so ranks hash-match."""
    import numpy as np

    from ..operators.similarity import pq_encode, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.where(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    )
    centroids = np.array([r.embedding for r in cent_rows], dtype=np.float64)
    codes = pq_encode(emb, centroids, m=8)
    queries = emb.where(F.col("vec_id") < 20)
    return pq_topk(queries, codes, centroids, m=8, k=5).orderBy("query_id", "rank")


def _gen_pq_oracle(
    n_cent: int = 16, m: int = 8, k: int = 5, qmax: int = 20, dim: int = 64
) -> str:
    sub = dim // m

    def d2(j: int, a: str, b: str) -> str:
        return " + ".join(
            f"({a}.embedding[{j*sub+i+1}]::DOUBLE - {b}.cv[{j*sub+i+1}]::DOUBLE)"
            f" * ({a}.embedding[{j*sub+i+1}]::DOUBLE - {b}.cv[{j*sub+i+1}]::DOUBLE)"
            for i in range(sub)
        )

    d2_cols = ", ".join(f"({d2(j, 'e', 'c')}) AS d2_{j}" for j in range(m))
    code_ctes = ",\n".join(
        f"r{j} AS (SELECT vec_id, cid AS c{j} FROM"
        f" (SELECT vec_id, cid, row_number() OVER"
        f" (PARTITION BY vec_id ORDER BY d2_{j}, cid) AS rn FROM a) WHERE rn = 1)"
        for j in range(m)
    )
    code_joins = " ".join(f"JOIN r{j} USING (vec_id)" for j in range(m))
    code_cols = ", ".join(f"c{j}" for j in range(m))
    term_joins = " ".join(
        f"JOIN cent t{j} ON t{j}.cid = x.c{j}" for j in range(m)
    )
    adc = " + ".join(f"({d2(j, 'q', f't{j}')})" for j in range(m))
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
              WHERE vec_id < {n_cent}),
a AS (SELECT e.vec_id, c.cid, {d2_cols} FROM embeddings e CROSS JOIN cent c),
{code_ctes},
x AS (SELECT vec_id, {code_cols} FROM embeddings {code_joins}),
s AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, ({adc}) AS adc
      FROM embeddings q CROSS JOIN x {term_joins}
      WHERE q.vec_id < {qmax}),
rr AS (SELECT query_id, neighbor_id, adc,
              CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, neighbor_id) AS INTEGER) AS rank
       FROM s)
SELECT query_id, neighbor_id, rank, round(adc, 4) AS adc
FROM rr WHERE rank <= {k} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Streaming FILE sink (append mode, watermark-closed windows)
# ---------------------------------------------------------------------------


def q_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed aggregate streamed to a PARQUET sink in APPEND mode —
    unlike the memory-sink queries this exercises the real production
    path: append mode only emits a window once the watermark closes
    it, so a far-future sentinel row (filtered from the result)
    advances the final watermark past every real window, and the
    batch re-read of the sink directory equals the batch aggregate.
    At scale this is exactly-once into object storage: one file set
    per closed window, checkpointed offsets."""
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.tables import _events_ts_arrow_type

    def _build(d: str) -> None:
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"), os.path.join(d, "events.parquet")
        )
        real_t = _events_ts_arrow_type(os.path.join(d, "events.parquet"))
        y2100_s = 4102444800
        if str(real_t) == "int64" or getattr(real_t, "unit", None) == "ns":
            ts_arr = pa.array([y2100_s * 1_000_000_000], pa.int64())
        else:
            ts_arr = pa.array([y2100_s * 1_000_000], real_t)
        sentinel = pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["sentinel"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        pq.write_table(sentinel, os.path.join(d, "sentinel.parquet"))

    # the SOURCE staging is reused across runs; the sink/checkpoint
    # dirs must be fresh per run (append sink + offsets are stateful)
    d = _staged_dir("sink_src", sf_dir, _build)
    # sink directory on the same tmpfs root as the checkpoint: the
    # parquet sink commits data files + the _spark_metadata WAL with
    # fsyncs, which on the disk-backed /tmp is pure floor at toy SF
    # (at scale this path is object storage, not a local disk)
    out_dir = tempfile.mkdtemp(prefix="sink_out_", dir=_stream_checkpoint_root())
    ckpt = tempfile.mkdtemp(prefix="sink_ckpt_", dir=_stream_checkpoint_root())
    try:
        # the corpus + sentinel ride ONE data micro-batch: the
        # watermark only advances BETWEEN micro-batches (from the
        # batch max event time), so the trailing NO-DATA batch closes
        # every real window — one fewer micro-batch of state/WAL cost
        # than a maxFilesPerTrigger=1 split, identical emission
        # (docs/aqe_partitioning.md's sibling finding; queries_r5g
        # module docstring)
        raw = stream_events(spark, d, glob=None)
        agg = (
            raw.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("win.start").alias("win_start"),
                "event_type",
                "n",
            )
        )
        _STREAM_QUERY_SEQ[0] += 1
        with _stream_shuffle(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("streaming query did not finish within 300s")
        sunk = (
            spark.read.schema("win_start timestamp, event_type string, n bigint")
            .parquet(out_dir)
            .where(F.col("event_type") != "sentinel")
            .select(
                F.unix_timestamp("win_start").alias("win_epoch"), "event_type", "n"
            )
        )
        out = spark.createDataFrame(
            sunk.collect(), "win_epoch bigint, event_type string, n bigint"
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out.orderBy("win_epoch", "event_type")


_ORACLE_STREAM_FILE_SINK = """
SELECT CAST(epoch(time_bucket(INTERVAL 1 DAY, ts)) AS BIGINT) AS win_epoch,
       event_type, count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES.update(
    {
        "order_priority_exists": q_order_priority_exists,
        "small_qty_revenue": q_small_qty_revenue,
        "supplier_parts_in": q_supplier_parts_in,
        "bloom_semi_join": q_bloom_semi_join,
        "stream_static_enrich": q_stream_static_enrich,
        "unigram_ppl": q_unigram_ppl,
        "hybrid_rrf": q_hybrid_rrf,
        "jw_linkage": q_jw_linkage,
        "pagerank_bipartite": q_pagerank_bipartite,
        "grouped_regression": q_grouped_regression,
        "funnel_conversion": q_funnel_conversion,
        "retention_cohorts": q_retention_cohorts,
        "time_weighted_avg": q_time_weighted_avg,
        "session_funnel": q_session_funnel,
        "dq_checks": q_dq_checks,
        "skew_report": q_skew_report,
        "stream_file_sink": q_stream_file_sink,
        "ann_pq_topk": q_ann_pq_topk,
        "stream_dedup_watermark": q_stream_dedup_watermark,
        "jq_native_arrayfns": q_jq_native_arrayfns,
    }
)

ORACLES.update(
    {
        "unigram_ppl": _ORACLE_UNIGRAM_PPL,
        "hybrid_rrf": _ORACLE_HYBRID_RRF,
        "jw_linkage": _ORACLE_JW_LINKAGE,
        "pagerank_bipartite": _pagerank_oracle(10),
        "grouped_regression": _ORACLE_GROUPED_REGRESSION,
        "funnel_conversion": _ORACLE_FUNNEL,
        "retention_cohorts": _ORACLE_RETENTION,
        "time_weighted_avg": _ORACLE_TWA,
        "session_funnel": _ORACLE_SESSION_FUNNEL,
        "dq_checks": _ORACLE_DQ,
        "skew_report": _ORACLE_SKEW,
        "stream_file_sink": _ORACLE_STREAM_FILE_SINK,
        "ann_pq_topk": _gen_pq_oracle(),
        "stream_dedup_watermark": _ORACLE_STREAM_DEDUP_WM,
        "jq_native_arrayfns": _ORACLE_NATIVE_ARRAYFNS,
        "order_priority_exists": _ORACLE_ORDER_PRIORITY_EXISTS,
        "small_qty_revenue": _ORACLE_SMALL_QTY,
        "supplier_parts_in": _ORACLE_SUPPLIER_PARTS_IN,
        "bloom_semi_join": _ORACLE_BLOOM_SEMI,
        "stream_static_enrich": _ORACLE_STREAM_STATIC,
    }
)
