"""Round-5 attribution / entity-resolution batch: last-touch marketing
attribution with a staleness tolerance, CDC golden-record survivorship,
and market-basket co-purchase mining — the event-to-entity shapes that
sit beside the CDC/SCD-2 family in a production warehouse.

All three are one-shuffle-per-entity-key plans with deterministic
total orders; the attribution carry is the same union-sort
carry-forward idea as ``operators/asof.py`` specialized to the same
table (no union needed — one window pass).

No reference citations: north-star additions (SURVEY §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows
from kafka_sink_azure_kusto_spark.plans.registry import register
from kafka_sink_azure_kusto_spark.sources.tables import load_table


@register(
    "attribution_last_touch",
    """
    WITH seq AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS) OVER w AS last_click_id,
             last_value(CASE WHEN event_type = 'click' THEN ts END
                        IGNORE NULLS) OVER w AS last_click_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN last_click_ts >= ts - INTERVAL 7 DAY
                THEN last_click_id END AS click_id,
           CASE WHEN last_click_ts >= ts - INTERVAL 7 DAY
                THEN epoch_us(ts) - epoch_us(last_click_ts) END AS gap_us
    FROM seq WHERE event_type = 'purchase'
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution with a 7-day staleness tolerance: each
    purchase is credited to the user's most recent click, unless the
    click is older than the window (then NULL — organic). One
    carry-forward window per user (``last(..., ignorenulls)`` over the
    (ts, event_id) total order) — the same-table special case of the
    as-of join, with the tolerance as a post-carry predicate; gap is
    exact integer epoch-micros."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    seq = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
    )
    fresh = F.col("last_click_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return seq.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(fresh, F.col("last_click_id")).alias("click_id"),
        F.when(
            fresh, F.unix_micros("ts") - F.unix_micros("last_click_ts")
        ).alias("gap_us"),
    )


@register(
    "record_survivorship",
    """
    WITH attrs AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'signup'
                  THEN 'acct-' || CAST(event_id AS VARCHAR) END AS account_mark,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(value AS DECIMAL(18,2)) END AS purchase_amount,
             CASE WHEN event_type = 'error' THEN ts END AS error_ts
      FROM events),
    seq AS (
      SELECT user_id, ts, event_id,
             last_value(account_mark IGNORE NULLS) OVER w AS last_account,
             last_value(purchase_amount IGNORE NULLS) OVER w AS last_purchase_amount,
             last_value(error_ts IGNORE NULLS) OVER w AS last_error_ts,
             COUNT(*) OVER w AS n_events,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM attrs
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT user_id, last_account,
           CAST(last_purchase_amount AS DOUBLE) AS last_purchase_amount,
           last_error_ts, n_events, ts AS last_seen
    FROM seq WHERE rn = 1
    """,
)
def record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC golden-record survivorship: one merged row per user carrying
    the LATEST NON-NULL value of each sparse attribute (attributes only
    present on some event types — the shape of merging partial updates
    from many feeds). Recency rule = last-non-null over the (ts,
    event_id) total order; the final row per entity is rank-1 on the
    reversed order. One shuffle on the entity key, no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    attrs = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("event_type") == "signup",
            F.concat(F.lit("acct-"), F.col("event_id").cast("string")),
        ).alias("account_mark"),
        F.when(
            F.col("event_type") == "purchase", F.col("value").cast("decimal(18,2)")
        ).alias("purchase_amount"),
        F.when(F.col("event_type") == "error", F.col("ts")).alias("error_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = attrs.select(
        "user_id",
        "ts",
        "event_id",
        F.last("account_mark", ignorenulls=True).over(w).alias("last_account"),
        F.last("purchase_amount", ignorenulls=True)
        .over(w)
        .alias("last_purchase_amount"),
        F.last("error_ts", ignorenulls=True).over(w).alias("last_error_ts"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    )
    return topk_rows(seq, "user_id", ["-ts", "-event_id"], 1).select(
        "user_id",
        "last_account",
        F.col("last_purchase_amount").cast("double").alias("last_purchase_amount"),
        "last_error_ts",
        "n_events",
        F.col("ts").alias("last_seen"),
    )


@register(
    "copurchase_pairs",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT p1, p2, n_orders FROM pairs WHERE n_orders >= 2
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase pairs: parts appearing together in at
    least two orders. The self-join is keyed on the ORDER (basket), so
    pair blow-up is bounded by basket size squared (≤ ~7 items/order ⇒
    ≤ 21 pairs), never corpus-quadratic — the same blocking discipline
    as the LSH band joins; ``p1 < p2`` halves the pairs and
    canonicalizes them. Support threshold prunes before any downstream
    lift/affinity computation would run."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "copurchase_lift",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nn AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders_total FROM items),
    item_n AS (SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_pair
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2)
    SELECT p1, p2, n_pair,
           CAST(n_pair AS DOUBLE) * (SELECT n_orders_total FROM nn)
             / (i1.n_item * i2.n_item) AS lift
    FROM pairs
    JOIN item_n i1 ON i1.l_partkey = p1
    JOIN item_n i2 ON i2.l_partkey = p2
    ORDER BY lift DESC, p1, p2 LIMIT 50
    """,
)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift over the co-purchase pairs: lift =
    P(p1,p2) / (P(p1)·P(p2)) computed from exact integer counts (the
    double division of identical exact inputs is identical in both
    engines), top-50 with a (lift, p1, p2) deterministic order via
    TakeOrderedAndProject. Item counts join broadcast-sized frames;
    the basket-blocked pair join is the only fact-sized work."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_total = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders_total")
    )
    item_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    i1 = item_n.select(F.col("l_partkey").alias("p1"), F.col("n_item").alias("n1"))
    i2 = item_n.select(F.col("l_partkey").alias("p2"), F.col("n_item").alias("n2"))
    return (
        pairs.join(i1, "p1")
        .join(i2, "p2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "p1",
            "p2",
            "n_pair",
            (
                F.col("n_pair").cast("double")
                * F.col("n_orders_total")
                / (F.col("n1") * F.col("n2"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "p1", "p2")
        .limit(50)
    )


@register(
    "value_drift_psi",
    """
    WITH a AS (SELECT event_type, value, event_id FROM events
               WHERE ts < TIMESTAMP '2024-01-16'),
    b AS (SELECT event_type, value, event_id AS b_id FROM events
          WHERE ts >= TIMESTAMP '2024-01-16'),
    binned AS (SELECT event_type, value,
                      NTILE(10) OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS bin
               FROM a),
    bounds AS (SELECT event_type, bin,
                      CASE WHEN bin = 10 THEN 1e308 ELSE MAX(value) END AS hi
               FROM binned GROUP BY event_type, bin),
    na AS (SELECT event_type, bin, COUNT(*) AS n_a
           FROM binned GROUP BY event_type, bin),
    assigned AS (SELECT b.event_type, MIN(bounds.bin) AS bin
                 FROM b JOIN bounds ON b.event_type = bounds.event_type
                                   AND b.value <= bounds.hi
                 GROUP BY b.event_type, b.value, b.b_id),
    nb AS (SELECT event_type, bin, COUNT(*) AS n_b
           FROM assigned GROUP BY event_type, bin),
    tot AS (SELECT x.event_type,
                   (SELECT COUNT(*) FROM a WHERE a.event_type = x.event_type) AS t_a,
                   (SELECT COUNT(*) FROM b WHERE b.event_type = x.event_type) AS t_b
            FROM (SELECT DISTINCT event_type FROM events) x),
    terms AS (
      SELECT na.event_type,
             (CAST(na.n_a AS DOUBLE) + 0.5) / (t_a + 5.0) AS pa,
             (CAST(COALESCE(nb.n_b, 0) AS DOUBLE) + 0.5) / (t_b + 5.0) AS pb
      FROM na
      LEFT JOIN nb ON na.event_type = nb.event_type AND na.bin = nb.bin
      JOIN tot ON tot.event_type = na.event_type)
    SELECT event_type,
           SUM((pb - pa) * ln(pb / pa)) AS psi
    FROM terms GROUP BY event_type
    """,
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month, per event type — the drift monitor that pages the
    feature-pipeline on-call. Reference deciles from period A (exact
    ntile bins), period-B rows assigned by broadcast bin boundaries (a
    ≤10-row non-equi join per type), Laplace-smoothed proportions so
    empty bins stay finite, PSI as one double formula over exact
    integer counts — identical in both engines. Everything after the
    two period scans is dimension-sized."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-16"))
    a = ev.filter(F.col("ts") < cut).select("event_type", "value", "event_id")
    b = ev.filter(F.col("ts") >= cut).select(
        "event_type", "value", F.col("event_id").alias("b_id")
    )
    wbin = Window.partitionBy("event_type").orderBy("value", "event_id")
    binned = a.withColumn("bin", F.ntile(10).over(wbin))
    bounds = binned.groupBy("event_type", "bin").agg(
        F.when(F.col("bin") == 10, F.lit(1e308))
        .otherwise(F.max("value"))
        .alias("hi")
    )
    na = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("n_a"))
    assigned = (
        b.join(
            F.broadcast(bounds.withColumnRenamed("event_type", "bt")),
            (F.col("event_type") == F.col("bt")) & (F.col("value") <= F.col("hi")),
        )
        .groupBy("event_type", "value", "b_id")
        .agg(F.min("bin").alias("bin"))
    )
    nb = assigned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("n_b"))
    t_a = a.groupBy("event_type").agg(F.count(F.lit(1)).alias("t_a"))
    t_b = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("t_b"))
    terms = (
        na.join(nb, ["event_type", "bin"], "left")
        .join(F.broadcast(t_a), "event_type")
        .join(F.broadcast(t_b), "event_type")
        .select(
            "event_type",
            ((F.col("n_a").cast("double") + 0.5) / (F.col("t_a") + 5.0)).alias("pa"),
            (
                (F.coalesce(F.col("n_b"), F.lit(0)).cast("double") + 0.5)
                / (F.col("t_b") + 5.0)
            ).alias("pb"),
        )
    )
    return terms.groupBy("event_type").agg(
        F.sum((F.col("pb") - F.col("pa")) * F.log(F.col("pb") / F.col("pa"))).alias(
            "psi"
        )
    )


def _hourly_profile_sql() -> str:
    """24 hourly-mean expressions generated by the same loop as the
    Spark plan (generated-SQL discipline: the two cannot drift)."""
    cells = ", ".join(
        f"COALESCE(MAX(CASE WHEN h = {i} THEN m END), 0.0)" for i in range(24)
    )
    return f"""
    hourly AS (
      SELECT user_id, CAST(EXTRACT(hour FROM ts) AS INT) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m
      FROM events GROUP BY 1, 2),
    prof AS (SELECT user_id, [{cells}] AS v
             FROM hourly GROUP BY user_id)"""


@register(
    "timeseries_profile_similarity",
    f"""
    WITH {_hourly_profile_sql()},
    q AS (SELECT user_id AS query_id, v AS qv FROM prof WHERE user_id < 10),
    scored AS (
      SELECT query_id, c.user_id AS neighbor_id,
             list_dot_product(qv, c.v) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS score
      FROM prof c CROSS JOIN q WHERE c.user_id <> query_id)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(score, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def timeseries_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search via the ANN discipline: each user's
    activity becomes a 24-dim hourly-mean profile (exact decimal
    partials → identical double means; missing hours are 0), then the
    existing ``brute_force_topk`` machinery finds the top-5
    behaviorally-similar users per query by cosine. The profile step
    collapses an unbounded event stream into a FIXED-width vector — the
    move that turns time-series similarity into embedding similarity,
    so the whole existing retrieval stack (IVF cells, PQ codes, rerank)
    applies unchanged when the user count outgrows the broadcast."""
    from kafka_sink_azure_kusto_spark.functions.similarity import brute_force_topk

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("user_id", F.hour("ts").alias("h")).agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    cells = [
        F.coalesce(F.max(F.when(F.col("h") == i, F.col("m"))), F.lit(0.0))
        for i in range(24)
    ]
    prof = hourly.groupBy("user_id").agg(
        F.array(*cells).alias("v")
    )
    out = brute_force_topk(
        prof,
        prof.filter(F.col("user_id") < 10),
        k=5,
        id_col="user_id",
        vec_col="v",
        query_id_col="user_id",
        query_vec_col="v",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("score", 6).alias("score"),
    )


@register(
    "scd1_upsert",
    """
    WITH snapshot AS (
      SELECT user_id, event_type AS state, ts, event_id FROM events
      WHERE ts < TIMESTAMP '2024-01-16'),
    snap1 AS (
      SELECT user_id, state, ts FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM snapshot) WHERE rn = 1),
    delta AS (
      SELECT user_id, event_type AS state, ts, event_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-16'),
    delta1 AS (
      SELECT user_id, state, ts FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM delta) WHERE rn = 1)
    SELECT COALESCE(d.user_id, s.user_id) AS user_id,
           COALESCE(d.state, s.state) AS state,
           COALESCE(d.ts, s.ts) AS state_ts,
           (d.user_id IS NOT NULL AND s.user_id IS NOT NULL) AS updated,
           (s.user_id IS NULL) AS inserted
    FROM snap1 s FULL OUTER JOIN delta1 d ON s.user_id = d.user_id
    """,
)
def scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-1 upsert — the MERGE INTO shape without a table format:
    dedupe the delta to its latest row per key (rank-1 on the reversed
    (ts, event_id) order — a CDC feed can carry many updates per key),
    then full-outer join onto the current snapshot taking the delta
    side when present, flagging updates vs inserts. One shuffle per
    side on the entity key; the companion to ``scd2_user_state_history``
    (which keeps history) and ``incremental_agg_maintenance`` (which
    merges aggregates)."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-16"))

    def latest(part: DataFrame) -> DataFrame:
        return topk_rows(
            part.select(
                "user_id", F.col("event_type").alias("state"), "ts", "event_id"
            ),
            "user_id", ["-ts", "-event_id"], 1,
        ).select("user_id", "state", "ts")

    snap = latest(ev.filter(F.col("ts") < cut)).select(
        F.col("user_id").alias("s_key"),
        F.col("state").alias("s_state"),
        F.col("ts").alias("s_ts"),
    )
    delta = latest(ev.filter(F.col("ts") >= cut)).select(
        F.col("user_id").alias("d_key"),
        F.col("state").alias("d_state"),
        F.col("ts").alias("d_ts"),
    )
    merged = snap.join(delta, F.col("s_key") == F.col("d_key"), "full_outer")
    return merged.select(
        F.coalesce(F.col("d_key"), F.col("s_key")).alias("user_id"),
        F.coalesce(F.col("d_state"), F.col("s_state")).alias("state"),
        F.coalesce(F.col("d_ts"), F.col("s_ts")).alias("state_ts"),
        (F.col("d_key").isNotNull() & F.col("s_key").isNotNull()).alias("updated"),
        F.col("s_key").isNull().alias("inserted"),
    )
