"""Round-5 second batch: TPC-H analog joins (q4/q6/q7/q15/q17/q18/q19/
q22 shapes over the driver's star schema), deterministic sketches
(count-min, KMV), referential-integrity auditing, weighted sampling
without replacement, iterative PageRank with a generated-SQL oracle,
and exact-sum linear regression.

Exactness contract, same as every other registry module: money math
goes through DECIMAL(18,2) partials (associativity-proof), hashes are
md5 integer arithmetic mirrored digit-for-digit in the oracle, and the
only doubles are final projections computed by the identical formula
over identical exact inputs in both engines.

No reference citations in this module: the reference connector has no
analytic surface — these are north-star additions (SURVEY §7.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.integrity import (
    fk_audit,
    fk_audit_many,
    fk_audit_sql,
)
from kafka_sink_azure_kusto_spark.functions.sampling import md5_unit_interval, md5_unit_interval_sql
from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows
from kafka_sink_azure_kusto_spark.functions.sketches import (
    countmin_estimates,
    countmin_estimates_sql,
    kmv_distinct,
    kmv_distinct_sql,
)
from kafka_sink_azure_kusto_spark.operators.graph import pagerank, pagerank_sql
from kafka_sink_azure_kusto_spark.plans.registry import register
from kafka_sink_azure_kusto_spark.sources.tables import load_table


def _dec(col: str) -> Column:
    """DECIMAL(18,2) partial — exact summation regardless of order."""
    return F.col(col).cast("decimal(18,2)")


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _revenue() -> Column:
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))


# ---------------------------------------------------------------------------
# TPC-H analog joins
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-stage predicate + one global sum — the
    canonical pushdown probe. Every filter reaches the parquet reader
    (PushedFilters on shipdate/discount/quantity), no join, no shuffle
    beyond the single-row final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1995-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-01-01")))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(_dec("l_extendedprice") * _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q4_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join with a
    mixed equi + non-equi condition (late-shipping lineitems per order).
    The semi join shuffles on the order key exactly once and never
    materializes the multiplicity of matching lineitems."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_Q7_JOIN_SQL = """
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier-nation → customer-nation lineitem rows with exact
    revenue partials (shared by q7 and the PageRank trade graph).

    Join order is fact-first: lineitem shuffles once onto orders
    (orderkey), once onto the supplier/customer key; the two nation
    dims are broadcast. At 100 TB customer/supplier are shuffle joins
    (too big to broadcast) and that is what this plan does."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", _revenue().alias("rev")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                      F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("cn_key"),
                                      F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )


@register(
    "q7_bilateral_trade",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    {_Q7_JOIN_SQL}
    GROUP BY 1, 2, 3
    """,
)
def q7_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the 6-table bilateral-trade join, revenue by
    (supplier nation, customer nation, ship year). Dims broadcast,
    facts shuffle on their join keys once each."""
    return (
        _trade_edges(spark, sf_dir)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({_REV}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, keep the
    maximum (ties included — DECIMAL equality is exact, so the tie set
    is well-defined). The scalar max is a one-row broadcast cross join,
    not a window over a single partition."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_revenue()).alias("total_rev"))
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH li AS (
      SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,2)) AS q,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS ep
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#23'),
    pq AS (SELECT l_partkey, SUM(q) AS sq, COUNT(*) AS nq
           FROM li GROUP BY l_partkey)
    SELECT CAST(CAST(SUM(li.ep) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_items
    FROM li JOIN pq ON li.l_partkey = pq.l_partkey
    WHERE li.q * 5 * pq.nq < pq.sq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems below 20% of their part's average
    quantity. The fractional threshold ``q < 0.2 * avg(q)`` is
    rewritten integer-exact as ``5*q*n < sum(q)`` so the DECIMAL
    comparison has no float boundary. Self-aggregate then self-join on
    the part key — one shuffle, reused by both sides."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part.select("p_partkey")), F.col("p_partkey") == F.col("l_partkey"))
        .select("l_partkey", _dec("l_quantity").alias("q"), _dec("l_extendedprice").alias("ep"))
    )
    pq = li.groupBy("l_partkey").agg(
        F.sum("q").alias("sq"), F.count(F.lit(1)).alias("nq")
    )
    joined = li.join(pq, "l_partkey").filter(
        F.col("q") * F.lit(5) * F.col("nq") < F.col("sq")
    )
    return joined.agg(
        (F.sum("ep").cast("double") / F.lit(7.0)).cast("double").alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q18_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 140)
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum_qty AS DOUBLE) AS sum_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 140, top
    100 by price. The HAVING reduces lineitem to qualifying orderkeys
    BEFORE any join, and the top-100 runs as TakeOrderedAndProject
    (per-partition heaps merged on the driver — never a global sort).
    The orderkey tie-break makes the LIMIT set deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 140)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue, COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates over a
    broadcast part join. Catalyst derives the implied single-table
    prefilters from the OR (brand IN (...), size <= 15, quantity <= 30)
    and pushes them below the join, so most rows never reach the join
    at all — the point of the Q19 pattern."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return joined.filter(pred).agg(
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q22_dormant_high_balance",
    """
    WITH thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0),
    dormant AS (
      SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer, thr
      WHERE c_acctbal > thr.avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01'))
    SELECT n_name, COUNT(*) AS n_custs, CAST(SUM(bal) AS DOUBLE) AS total_bal
    FROM dormant JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)
def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers DORMANT since
    2000 (no recent orders), aggregated per nation. The scalar
    threshold (exact DECIMAL sum ÷ count, identical double in both
    engines) broadcasts as a one-row cross join; the dormancy test is a
    LEFT ANTI join on the customer key against the date-filtered orders
    (the filter pushes to the orders scan); nation broadcasts."""
    cust = load_table(spark, sf_dir, "customer")
    thr = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dormant = (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    )
    return (
        dormant.join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Sketches
# ---------------------------------------------------------------------------


@register(
    "countmin_heavy_hitters",
    f"""
    SELECT e.user_id, e.est, t.true_n
    FROM ({countmin_estimates_sql("events", "user_id", "user_id", depth=4, width=64)}) e
    JOIN (SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id) t
      ON e.user_id = t.user_id
    WHERE e.est >= 80
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over the event stream: users whose
    ESTIMATED event count (min over 4 md5-salted hash rows of 64
    buckets) reaches 80, with the true count alongside — est >= true
    always, which the oracle proves row-by-row. The sketch is 256
    grouped cells however large the input; the probe joins against it
    broadcast (functions/sketches.countmin_estimates)."""
    ev = load_table(spark, sf_dir, "events")
    est = countmin_estimates(ev, "user_id", depth=4, width=64)
    true_n = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    return (
        est.join(true_n, "user_id")
        .filter(F.col("est") >= 80)
        .select("user_id", "est", "true_n")
    )


@register(
    "distinct_kmv_estimate",
    f"""
    SELECT k.event_type, k.est_distinct, k.n_hashes, t.true_distinct
    FROM ({kmv_distinct_sql("events", "event_type", "event_type", "user_id", k=16)}) k
    JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS true_distinct
          FROM events GROUP BY event_type) t
      ON k.event_type = t.event_type
    """,
)
def distinct_kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta-sketch) distinct-user estimate per event type with
    the exact count alongside. k=16 minimum hashes per group — bounded
    mergeable state, the practical substitute for COUNT(DISTINCT) at
    100 TB (functions/sketches.kmv_distinct)."""
    ev = load_table(spark, sf_dir, "events")
    est = kmv_distinct(ev, ["event_type"], "user_id", k=16)
    true_d = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return est.join(true_d, "event_type").select(
        "event_type", "est_distinct", "n_hashes", "true_distinct"
    )


# ---------------------------------------------------------------------------
# Integrity / sampling / regression / graph
# ---------------------------------------------------------------------------

_LI_ORDERS_CORRUPT = (
    "(SELECT *, CASE WHEN l_orderkey % 997 = 0 THEN -l_orderkey "
    "ELSE l_orderkey END AS fk FROM lineitem)"
)
_LI_PART_NULLED = (
    "(SELECT *, CASE WHEN l_partkey % 911 = 0 THEN NULL "
    "ELSE l_partkey END AS fk FROM lineitem)"
)
_ORD_CUST_CORRUPT = (
    "(SELECT *, CASE WHEN o_orderkey % 499 = 0 THEN o_custkey + 1000000 "
    "ELSE o_custkey END AS fk FROM orders)"
)


@register(
    "referential_integrity_audit",
    f"""
    {fk_audit_sql("lineitem", "c.l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders")}
    UNION ALL
    {fk_audit_sql(_LI_ORDERS_CORRUPT, "c.fk", "orders", "o_orderkey", "lineitem.l_orderkey->orders (corrupted)")}
    UNION ALL
    {fk_audit_sql(_LI_PART_NULLED, "c.fk", "part", "p_partkey", "lineitem.l_partkey->part (nulled)")}
    UNION ALL
    {fk_audit_sql(_ORD_CUST_CORRUPT, "c.fk", "customer", "c_custkey", "orders.o_custkey->customer (corrupted)")}
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-integrity report over the star schema: one clean relation
    (proving zero false positives) and three with deterministic
    injected corruption — wrong keys (negated / offset) and NULLed FKs
    — proving the detector counts orphan rows, orphan keys, and NULL
    FKs separately (functions/integrity.fk_audit)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")
    li_bad_ok = li.withColumn(
        "fk",
        F.when(F.col("l_orderkey") % 997 == 0, -F.col("l_orderkey")).otherwise(
            F.col("l_orderkey")
        ),
    )
    li_null_pk = li.withColumn(
        "fk",
        F.when(F.col("l_partkey") % 911 == 0, F.lit(None)).otherwise(F.col("l_partkey")),
    )
    ord_bad_ck = orders.withColumn(
        "fk",
        F.when(
            F.col("o_orderkey") % 499 == 0, F.col("o_custkey") + 1000000
        ).otherwise(F.col("o_custkey")),
    )
    return fk_audit_many(
        [
            fk_audit(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders"),
            fk_audit(li_bad_ok, "fk", orders, "o_orderkey", "lineitem.l_orderkey->orders (corrupted)"),
            fk_audit(li_null_pk, "fk", part, "p_partkey", "lineitem.l_partkey->part (nulled)"),
            fk_audit(ord_bad_ck, "fk", cust, "c_custkey", "orders.o_custkey->customer (corrupted)"),
        ]
    )


@register(
    "weighted_sample_wor",
    f"""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             -ln({md5_unit_interval_sql("doc_id", "wor:")}) / n_chars AS wkey
      FROM documents),
    ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY wkey, doc_id) AS rn
      FROM keyed)
    SELECT source, doc_id, n_chars FROM ranked WHERE rn <= 20
    """,
)
def weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    exponential-race): each doc draws key = -ln(u)/w with u a
    deterministic md5 uniform and w = n_chars; the k smallest keys per
    source are an exact weighted-WOR sample. One window per stratum —
    reproducible on any cluster layout, and streaming-mergeable (keep
    the k smallest keys seen so far)."""
    docs = load_table(spark, sf_dir, "documents")
    u = md5_unit_interval(F.col("doc_id"), salt="wor:")
    keyed = docs.select(
        "source", "doc_id", "n_chars", (-F.log(u) / F.col("n_chars")).alias("wkey")
    )
    return topk_rows(keyed, "source", ["wkey", "doc_id"], 20).select(
        "source", "doc_id", "n_chars"
    )


_TRADE_EDGES_SQL = f"""
      SELECT n1.n_name AS src, n2.n_name AS dst,
             CAST(SUM({_REV}) AS DOUBLE) AS w
      {_Q7_JOIN_SQL}
      GROUP BY 1, 2
"""


@register(
    "pagerank_nation_trade",
    pagerank_sql(
        nodes_cte="SELECT n_name AS node FROM nation",
        edges_cte=_TRADE_EDGES_SQL,
        node_col="node",
        iterations=3,
        damping=0.85,
    ),
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 power steps, d=0.85) over the nation trade
    graph: edge weight = exact bilateral revenue from the q7 join. The
    iteration is chained DataFrame plans — only the O(nodes) rank
    vector moves per step, broadcast onto the static normalized edges;
    the oracle's CTE chain is GENERATED from the same loop
    (operators/graph.pagerank / pagerank_sql)."""
    edges = (
        _trade_edges(spark, sf_dir)
        .groupBy(F.col("supp_nation").alias("src"), F.col("cust_nation").alias("dst"))
        .agg(F.sum("rev").cast("double").alias("w"))
    )
    nodes = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    return pagerank(nodes, edges, iterations=3, damping=0.85)


@register(
    "events_linear_trend",
    """
    WITH base AS (
      SELECT event_type,
             (epoch_us(ts) // 1000000) -
             (SELECT MIN(epoch_us(ts) // 1000000) FROM events) AS x,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events),
    sums AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             SUM(y) AS sy_dec, SUM(x * y) AS sxy_dec
      FROM base GROUP BY event_type)
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(sxy_dec AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy_dec AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
           (CAST(sy_dec AS DOUBLE)
            - ((CAST(n AS DOUBLE) * CAST(sxy_dec AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy_dec AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
    FROM sums
    """,
)
def events_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend (value vs seconds since the
    corpus epoch): the closed-form slope/intercept computed from EXACT
    partials — integer sums for x/x², DECIMAL sums for y/xy — then one
    identical double formula in both engines. The regression of a
    100 TB metric stream is one map-side-combinable aggregation; no
    MLlib, no iteration. The epoch-min attaches as a ONE-ROW broadcast
    cross join (plan shows a single-row BroadcastNestedLoopJoin — the
    scalar-subquery shape, constant cost)."""
    ev = load_table(spark, sf_dir, "events")
    xsec = F.expr("unix_micros(ts) div 1000000")
    min_x = ev.agg(F.min(xsec).alias("min_x"))
    base = ev.crossJoin(F.broadcast(min_x)).select(
        "event_type",
        (xsec - F.col("min_x")).alias("x"),
        _dec("value").alias("y"),
    )
    sums = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy_dec"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_dec"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy_dec").cast("double")
    sxy = F.col("sxy_dec").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "event_type",
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Iterative BPE merges, BATCHED (generated-SQL oracle, like pagerank_sql)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3  # total merges
_BPE_BATCH = 3  # word-disjoint merges applied per corpus pass


def _bpe_sel_words(pass_i: int, upto: int) -> str:
    """Subquery of every word used by selections 1..upto of this pass."""
    parts = []
    for j in range(1, upto + 1):
        parts.append(f"SELECT w1 FROM s{pass_i}_{j}")
        parts.append(f"SELECT w2 FROM s{pass_i}_{j}")
    return " UNION ".join(parts)


def _bpe_merge_ctes(rounds: int, batch: int) -> tuple[list[str], str]:
    """The merged-corpus CTE chain shared by ``bpe_iterative_merges``
    and ``bpe_encode_corpus`` — one CTE block per corpus PASS,
    GENERATED from the same loop as the Spark plan. Each pass:
    adjacent word-pair counts → greedy selection of the top ``batch``
    MUTUALLY WORD-DISJOINT pairs (count DESC, pair ASC; a candidate is
    skipped if it shares a word with any higher-ranked selection —
    disjoint merges commute, so one padded-replace chain applies them
    all) → replace ``' w1 w2 '`` with ``' w1@@w2 '`` for every
    selection. COALESCE(chr(1)) turns an empty selection into a no-op
    search string instead of a NULL-poisoned replace. Returns (ctes,
    final-table name)."""
    ctes = [
        "t0 AS (SELECT doc_id, ' ' || text || ' ' AS txt FROM documents)",
    ]
    passes = [
        min(batch, rounds - done) for done in range(0, rounds, batch)
    ]
    for i, b in enumerate(passes, start=1):
        prev = f"t{i - 1}"
        ctes.append(
            f"w{i} AS (SELECT doc_id, string_split(trim(txt), ' ') AS ws FROM {prev})"
        )
        ctes.append(
            f"p{i} AS (SELECT ws[s + 1] || ' ' || ws[s + 2] AS pair "
            f"FROM (SELECT ws, unnest(range(0, len(ws) - 1)) AS s FROM w{i}))"
        )
        ctes.append(
            f"c{i} AS (SELECT pair, split_part(pair, ' ', 1) AS w1, "
            f"split_part(pair, ' ', 2) AS w2, count(*) AS cnt "
            f"FROM p{i} GROUP BY pair)"
        )
        for j in range(1, b + 1):
            if j == 1:
                ctes.append(
                    f"s{i}_1 AS (SELECT pair, w1, w2 FROM c{i} "
                    f"ORDER BY cnt DESC, pair ASC LIMIT 1)"
                )
            else:
                words = _bpe_sel_words(i, j - 1)
                ctes.append(
                    f"s{i}_{j} AS (SELECT pair, w1, w2 FROM c{i} "
                    f"WHERE w1 NOT IN ({words}) AND w2 NOT IN ({words}) "
                    f"ORDER BY cnt DESC, pair ASC LIMIT 1)"
                )
        expr = "txt"
        for j in range(1, b + 1):
            p = f"COALESCE((SELECT pair FROM s{i}_{j}), chr(1))"
            expr = (
                f"replace({expr}, ' ' || {p} || ' ', "
                f"' ' || replace({p}, ' ', '@@') || ' ')"
            )
        ctes.append(f"t{i} AS (SELECT doc_id, {expr} AS txt FROM {prev})")
    return ctes, f"t{len(passes)}"


def _bpe_merge_sql(rounds: int, batch: int) -> str:
    """DuckDB oracle for ``bpe_iterative_merges`` (see _bpe_merge_ctes)."""
    ctes, final = _bpe_merge_ctes(rounds, batch)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id,
           CAST(len(string_split(trim(txt), ' ')) AS BIGINT) AS n_tokens,
           md5(trim(txt)) AS txt_fingerprint
    FROM {final}"""
    )


def _select_disjoint(ranked: list, batch: int) -> list[str]:
    """Greedy top-``batch`` mutually word-disjoint pairs from a ranked
    (count DESC, pair ASC) list — the driver-side mirror of the s{i}_{j}
    oracle CTEs (scan in rank order, skip on any shared word)."""
    chosen: list[str] = []
    used: set[str] = set()
    for row in ranked:
        w1, w2 = row["pair"].split(" ", 1)
        if w1 in used or w2 in used:
            continue
        chosen.append(row["pair"])
        used.update((w1, w2))
        if len(chosen) == batch:
            break
    return chosen


@register("bpe_iterative_merges", _bpe_merge_sql(_BPE_ROUNDS, _BPE_BATCH))
def bpe_iterative_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction actually APPLIED, with BATCHED merge
    rounds (VERDICT r5 #3): each corpus pass counts adjacent word pairs
    ONCE, greedily selects the top ``_BPE_BATCH`` mutually
    WORD-DISJOINT pairs (count DESC, pair ASC), and applies them all in
    one codegen replace chain — so a 3-merge train is ONE Spark
    job/driver round-trip instead of three (a real tokenizer train of
    thousands of merges runs rounds/batch jobs, the standard batching
    trick). Disjointness is what makes the batch sound: merging
    ``(a,b)`` cannot change the occurrences of any pair sharing no word
    with it, so the batched result equals applying the selections
    sequentially. (Batched selection CAN diverge from classic
    one-pair-at-a-time BPE — a merged token's new neighbor pairs only
    enter counts next pass; the oracle implements the identical batched
    semantics, generated from the same loop.)

    Returns each doc's final token count and an md5 fingerprint of the
    merged text — the oracle verifies the full rewritten corpus, not
    just pair statistics (``bpe_pair_frequencies`` is the single-round
    count view). No shuffle of document text, ever; only pair counts
    move. The ranked-pair collect is capped at 512 rows; if fewer than
    ``batch`` disjoint pairs appear there, an uncapped collect backstops
    correctness (not hit on real text). Padded-string replace is
    left-to-right non-overlapping (``A B A B`` merges once) —
    byte-identical in Spark and DuckDB, which the fingerprint checks.
    """
    from kafka_sink_azure_kusto_spark.functions.parallelism import (
        ensure_min_parallelism,
    )

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    cur = docs.select(
        "doc_id", F.concat(F.lit(" "), F.col("text"), F.lit(" ")).alias("txt")
    )
    done = 0
    while done < _BPE_ROUNDS:
        b = min(_BPE_BATCH, _BPE_ROUNDS - done)
        toks = F.split(F.trim(F.col("txt")), " ")
        n = F.size(toks)
        idx = F.when(n - 1 > 0, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        pairs_col = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
        ranked_df = (
            cur.select(F.explode(pairs_col).alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
        )
        ranked = ranked_df.limit(512).collect()
        chosen = _select_disjoint(ranked, b)
        if len(chosen) < b and len(ranked) == 512:
            chosen = _select_disjoint(ranked_df.collect(), b)  # backstop
        for pair in chosen:
            merged = pair.replace(" ", "@@")
            cur = cur.withColumn(
                "txt",
                F.replace(F.col("txt"), F.lit(f" {pair} "), F.lit(f" {merged} ")),
            )
        done += b
    return cur.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("txt")), " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.trim(F.col("txt"))).alias("txt_fingerprint"),
    )


# ---------------------------------------------------------------------------
# BPE encode-to-ids: trained merges + vocab applied to the corpus
# ---------------------------------------------------------------------------

_BPE_VOCAB_K = 256  # vocab size for the gated encode; unk id = _BPE_VOCAB_K


def _train_bpe_merges(docs: DataFrame) -> list[str]:
    """Run the batched merge-training loop (identical selection rule to
    ``bpe_iterative_merges``) and return the learned merge table in
    application order."""
    cur = docs.select(
        "doc_id", F.concat(F.lit(" "), F.col("text"), F.lit(" ")).alias("txt")
    )
    merges: list[str] = []
    done = 0
    while done < _BPE_ROUNDS:
        b = min(_BPE_BATCH, _BPE_ROUNDS - done)
        toks = F.split(F.trim(F.col("txt")), " ")
        n = F.size(toks)
        idx = F.when(n - 1 > 0, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        pairs_col = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
        ranked_df = (
            cur.select(F.explode(pairs_col).alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
        )
        ranked = ranked_df.limit(512).collect()
        chosen = _select_disjoint(ranked, b)
        if len(chosen) < b and len(ranked) == 512:
            chosen = _select_disjoint(ranked_df.collect(), b)  # backstop
        for pair in chosen:
            merged = pair.replace(" ", "@@")
            cur = cur.withColumn(
                "txt",
                F.replace(F.col("txt"), F.lit(f" {pair} "), F.lit(f" {merged} ")),
            )
        merges.extend(chosen)
        done += b
    return merges


def _bpe_encode_sql() -> str:
    """Generated oracle for ``bpe_encode_corpus``: the shared merge
    CTEs, then the top-K vocab (count DESC, token ASC → ids 0..K−1),
    per-token id lookup with unk = K, the md5 fingerprint of the exact
    id sequence, and the standard shard/prefix-sum pack assignment."""
    ctes, final = _bpe_merge_ctes(_BPE_ROUNDS, _BPE_BATCH)
    k = _BPE_VOCAB_K
    ctes += [
        f"vt AS (SELECT doc_id, string_split(trim(txt), ' ') AS ws FROM {final})",
        "vc AS (SELECT tok, COUNT(*) AS cnt FROM "
        "(SELECT unnest(ws) AS tok FROM vt) GROUP BY tok)",
        f"vocab AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) - 1 "
        f"AS tid FROM vc ORDER BY cnt DESC, tok ASC LIMIT {k})",
        "tp AS (SELECT doc_id, ws[pos + 1] AS tok, pos FROM "
        "(SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos FROM vt))",
        f"ti AS (SELECT tp.doc_id, tp.pos, COALESCE(v.tid, {k}) AS tid "
        "FROM tp LEFT JOIN vocab v ON tp.tok = v.tok)",
        f"ids AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, "
        f"CAST(SUM(CASE WHEN tid = {k} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, "
        "md5(array_to_string(list(tid ORDER BY pos), ',')) AS ids_fp "
        "FROM ti GROUP BY doc_id)",
        "pre AS (SELECT doc_id, n_tokens, n_oov, ids_fp, "
        "CAST(doc_id % 8 AS INT) AS shard, "
        "CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
        "AS pack_tokens_before FROM ids)",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT doc_id, n_tokens, n_oov, ids_fp, shard, pack_tokens_before,
           CAST(FLOOR(pack_tokens_before / 512.0) AS BIGINT) AS pack_id
    FROM pre"""
    )


@register("bpe_encode_corpus", _bpe_encode_sql())
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE-to-ids (r7, VERDICT r6 #4 — the last mile of
    the BPE story): train the merge table (same batched loop as
    `bpe_iterative_merges`), derive a top-256 vocabulary from the
    merged corpus (count DESC, token ASC — deterministic ids 0..255,
    unk=256), then materialize each doc's ``token_ids array<int>`` via
    `functions.corpus.bpe_encode` and compose `pack_sequences` ON THE
    REAL id counts. Gated columns: the md5 fingerprint of the exact
    comma-joined id sequence (proves every id, in order), token/OOV
    counts, and the (shard, pack_id, pack_tokens_before) coordinates.

    Scale shape: training collects only ranked pair stats and the
    256-entry vocab to the driver (fenced, same as the merge trainer);
    the ENCODE itself is zero-shuffle — merges ride as a literal
    replace chain, the vocab as a literal map, and packing adds the
    one narrow prefix-sum window on (shard)."""
    from kafka_sink_azure_kusto_spark.functions.corpus import (
        bpe_apply_merges,
        bpe_encode,
    )
    from kafka_sink_azure_kusto_spark.functions.parallelism import (
        ensure_min_parallelism,
    )
    from kafka_sink_azure_kusto_spark.operators.packing import pack_sequences

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    merges = _train_bpe_merges(docs)
    merged_toks = F.split(F.trim(bpe_apply_merges("text", merges)), " ")
    vocab_rows = (
        docs.select(F.explode(merged_toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(_BPE_VOCAB_K)
        .collect()
    )
    vocab = {r["tok"]: i for i, r in enumerate(vocab_rows)}
    enc = bpe_encode(docs, merges, vocab, unk_id=_BPE_VOCAB_K)
    ids = F.col("token_ids")
    out = enc.select(
        "doc_id",
        F.size(ids).cast("bigint").alias("n_tokens"),
        F.size(F.filter(ids, lambda x: x == _BPE_VOCAB_K))
        .cast("bigint")
        .alias("n_oov"),
        F.md5(
            F.array_join(F.transform(ids, lambda x: x.cast("string")), ",")
        ).alias("ids_fp"),
    )
    packed = pack_sequences(
        out, token_col="n_tokens", key_col="doc_id", max_tokens=512, num_shards=8
    )
    return packed.select(
        "doc_id", "n_tokens", "n_oov", "ids_fp",
        "shard", "pack_tokens_before", "pack_id",
    )


@register("bpe_encode_corpus_join", _bpe_encode_sql())
def bpe_encode_corpus_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH encode (r7): identical semantics and OUTPUT to
    `bpe_encode_corpus` — same trained merges, same vocab — but the id
    resolution is `corpus.bpe_encode_join`'s broadcast hash join over
    pos-exploded tokens instead of a literal map, the form that holds
    for a real 50-100k vocabulary (a literal-map expression that size
    is unplannable). One fixed-width shuffle of (doc_id, pos, id) rows
    re-assembles sequences. Shares `bpe_encode_corpus`'s oracle
    verbatim — two independent Spark implementations against one SQL
    spec, both value-hash-exact."""
    from kafka_sink_azure_kusto_spark.functions.corpus import (
        bpe_apply_merges,
        bpe_encode_join,
    )
    from kafka_sink_azure_kusto_spark.functions.parallelism import (
        ensure_min_parallelism,
    )
    from kafka_sink_azure_kusto_spark.operators.packing import pack_sequences

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    merges = _train_bpe_merges(docs)
    merged_toks = F.split(F.trim(bpe_apply_merges("text", merges)), " ")
    vocab_df = (
        docs.select(F.explode(merged_toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(_BPE_VOCAB_K)
        .select(
            "tok",
            (F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
            ) - 1).alias("tid"),
        )
    )
    enc = bpe_encode_join(docs, merges, vocab_df, unk_id=_BPE_VOCAB_K)
    ids = F.col("token_ids")
    out = enc.select(
        "doc_id",
        F.size(ids).cast("bigint").alias("n_tokens"),
        F.size(F.filter(ids, lambda x: x == _BPE_VOCAB_K))
        .cast("bigint")
        .alias("n_oov"),
        F.md5(
            F.array_join(F.transform(ids, lambda x: x.cast("string")), ",")
        ).alias("ids_fp"),
    )
    packed = pack_sequences(
        out, token_col="n_tokens", key_col="doc_id", max_tokens=512, num_shards=8
    )
    return packed.select(
        "doc_id", "n_tokens", "n_oov", "ids_fp",
        "shard", "pack_tokens_before", "pack_id",
    )


from kafka_sink_azure_kusto_spark.functions.sketches import (  # noqa: E402
    hll_distinct,
    hll_distinct_sql,
    hll_merge_estimate,
    hll_registers,
)


@register(
    "distinct_hll_estimate",
    f"""
    SELECT h.event_type, h.est_distinct, h.registers_used, t.true_distinct
    FROM ({hll_distinct_sql("events", "event_type", "event_type", "user_id")}) h
    JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS true_distinct
          FROM events GROUP BY event_type) t
      ON h.event_type = t.event_type
    """,
)
def distinct_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type with the exact
    count alongside (r8) — completes the cardinality-sketch pair: KMV
    (`distinct_kmv_estimate`) holds k hashes per group; HLL holds a
    FIXED 256 six-bit registers per group, mergeable by element-wise
    MAX — the shape that survives billions of groups at 100 TB. The
    register harmonic sum is computed as an exact integer
    (Σ 2^(25−M_j)) so the gate hash is deterministic, not merely
    statistically close; the small-range linear-counting branch is
    replicated identically in the oracle.
    `functions/sketches.hll_distinct`."""
    ev = load_table(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], "user_id")
    true_d = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return est.join(true_d, "event_type").select(
        "event_type", "est_distinct", "registers_used", "true_distinct"
    )


@register(
    "sketch_merge_lifecycle",
    f"""
    SELECT h.event_type, h.est_distinct, h.registers_used, t.true_distinct
    FROM ({hll_distinct_sql("events", "event_type", "event_type", "user_id")}) h
    JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS true_distinct
          FROM events GROUP BY event_type) t
      ON h.event_type = t.event_type
    """,
)
def sketch_merge_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY proof for the HLL sketch (r8): events split
    into three "daily" ingests (event_id % 3), each day builds its own
    register frame (`sketches.hll_registers` — the persistable state a
    production job writes to parquet), the three frames merge by
    element-wise MAX (`hll_merge_estimate`), and the oracle is
    deliberately the SINGLE-SHOT whole-corpus HLL SQL: merged-of-parts
    must equal computed-once EXACTLY (MAX is associative, commutative,
    idempotent — so re-ingested days are harmless too, which the unit
    test pins). This is the property that lets 100 TB dashboards keep
    per-day sketch rows instead of raw keys."""
    ev = load_table(spark, sf_dir, "events")
    days = [
        hll_registers(ev.filter(F.col("event_id") % 3 == d),
                      ["event_type"], "user_id")
        for d in range(3)
    ]
    merged = days[0].unionByName(days[1]).unionByName(days[2])
    est = hll_merge_estimate(merged, ["event_type"])
    true_d = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return est.join(true_d, "event_type").select(
        "event_type", "est_distinct", "registers_used", "true_distinct"
    )
