"""Relational operator battery over the TPC-H-ish testdata
(SURVEY.md §2.2–2.8 driver keys).  Determinism rules: no cross-row
double aggregation — money sums go through integer cents or DECIMAL;
window orders carry a unique tiebreaker; arrays are stringified.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from accountant_pdf_extract_spark.plans.driver_queries import cents, register, t

# ---------------------------------------------------------------- P: project/filter


@register(
    "q_project",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    """,
)
def q_project(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "q_filter",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 100000
    """,
)
def q_filter(spark, sf):
    return (
        t(spark, sf, "orders")
        .where((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q_valid",
    """
    SELECT doc_id, text FROM documents
    WHERE text IS NOT NULL AND length(trim(text)) > 0 AND n_chars >= 100
    """,
)
def q_valid(spark, sf):
    return (
        t(spark, sf, "documents")
        .where(
            F.col("text").isNotNull()
            & (F.length(F.trim("text")) > 0)
            & (F.col("n_chars") >= 100)
        )
        .select("doc_id", "text")
    )


# ---------------------------------------------------------------- A: aggregates


@register(
    "q_agg",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS disc_price_cents
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("l_quantity"))).alias("qty_cents"),
            F.sum(cents(F.col("l_extendedprice"))).alias("price_cents"),
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("disc_price_cents"),
        )
    )


@register(
    "q_distinct",
    """
    SELECT count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    """,
)
def q_distinct(spark, sf):
    return t(spark, sf, "lineitem").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "q_cube",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------- J: joins


@register(
    "q_join_bcast",
    """
    SELECT r.r_name, count(*) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_join_bcast(spark, sf):
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(cents(F.col("c_acctbal"))).alias(
                "acctbal_cents"
            ),
        )
    )


@register(
    "q_join_smj",
    """
    SELECT o.o_orderstatus,
           count(*) AS n_items,
           CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_join_smj(spark, sf):
    """Shuffle join orders ⋈ lineitem.  r6: lineitem is partially
    aggregated per l_orderkey BEFORE the join (guide §2.3 'aggregate
    before you shuffle') — the join key is unique per order on the
    orders side, so count(*)/sum per status equals the sum of per-order
    partials; the orderkey exchange now carries ~|orders| pre-summed
    rows instead of all ~4x|orders| lineitem rows, and map-side partial
    aggregation compresses further because lineitem is clustered by
    orderkey.  Still a shuffle join (J2): both sides exchange on the
    key.  Null keys drop in both versions (inner equi-join)."""
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("_n"),
        F.sum(cents(F.col("l_quantity"))).alias("_qty"),
    )
    return (
        o.join(per_order, o.o_orderkey == per_order.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("_n").alias("n_items"),
            F.sum("_qty").alias("qty_cents"),
        )
    )


@register(
    "q_join_anti",
    """
    SELECT c_mktsegment, count(*) AS n_no_order
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
)
def q_join_anti(spark, sf):
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_no_order"))
    )


@register(
    "q_join_semi",
    """
    SELECT c_mktsegment, count(*) AS n_big_customers
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    GROUP BY c_mktsegment
    """,
)
def q_join_semi(spark, sf):
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").where(F.col("o_totalprice") > 200000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_big_customers"))
    )


# ---------------------------------------------------------------- W: windows


@register(
    "q_rownum",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def q_rownum(spark, sf):
    """First row per group.  r6: rn=1 over (PARTITION BY custkey ORDER
    BY orderdate, orderkey) selects exactly the per-custkey MINIMUM of
    the lexicographic struct (o_orderdate, o_orderkey) — orderkey is
    unique, so the winner is identical — and min(struct) is a partial-
    aggregating hash aggregate: no sort, and the exchange carries one
    row per (custkey × input partition) instead of the whole table
    (guide §2.3 'aggregate before you shuffle' / §2.4; the r5 plan was
    Sort+WindowGroupLimit+Exchange+Sort+Window).  The oracle keeps the
    row_number formulation, pinning the equivalence."""
    return (
        t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.min(F.struct("o_orderdate", "o_orderkey")).alias("_first"))
        .select(
            "o_custkey", F.col("_first.o_orderkey").alias("first_orderkey")
        )
    )


@register(
    "q_rank",
    """
    SELECT s_nationkey, s_suppkey, r FROM (
      SELECT s_nationkey, s_suppkey,
             rank() OVER (PARTITION BY s_nationkey
                          ORDER BY s_acctbal DESC, s_suppkey) AS r
      FROM supplier) WHERE r <= 3
    """,
)
def q_rank(spark, sf):
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        t(spark, sf, "supplier")
        .withColumn("r", F.rank().over(w))
        .where(F.col("r") <= 3)
        .select("s_nationkey", "s_suppkey", "r")
    )


@register(
    "q_lag",
    """
    SELECT user_id, event_id,
           CAST(round(value * 100) AS BIGINT)
             - lag(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_cents
    FROM events
    """,
)
def q_lag(spark, sf):
    cc = cents(F.col("value"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf, "events")
        .select(
            "user_id",
            "event_id",
            (cc - F.lag(cc).over(w)).alias("delta_cents"),
        )
    )


@register(
    "q_frame",
    """
    SELECT user_id, event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
    FROM events
    """,
)
def q_frame(spark, sf):
    cc = cents(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf, "events").select(
        "user_id", "event_id", F.sum(cc).over(w).alias("running_cents")
    )


# ---------------------------------------------------------------- O: sort/limit/set


@register(
    "q_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk(spark, sf):
    return (
        t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "q_union",
    """
    SELECT s_name AS name, 'supplier' AS src FROM supplier
    UNION ALL
    SELECT c_name AS name, 'customer' AS src FROM customer
    """,
)
def q_union(spark, sf):
    s = t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    c = t(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src")
    )
    return s.unionByName(c)


@register(
    "q_except",
    """
    SELECT o_orderkey FROM orders
    EXCEPT
    SELECT l_orderkey AS o_orderkey FROM lineitem
    """,
)
def q_except(spark, sf):
    # DataFrame.subtract IS SQL EXCEPT DISTINCT (Except(isAll=false))
    o = t(spark, sf, "orders").select("o_orderkey")
    li = t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return o.subtract(li)


# ---------------------------------------------------------------- scalar: json/date


@register(
    "q_json",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           count(*) AS n
    FROM events GROUP BY k_val
    """,
)
def q_json(spark, sf):
    return (
        t(spark, sf, "events")
        .select(
            F.get_json_object("props", "$.k").cast("long").alias("k_val")
        )
        .groupBy("k_val")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_dates",
    """
    SELECT CAST(ts AS DATE) AS day,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY day
    """,
)
def q_dates(spark, sf):
    return (
        t(spark, sf, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------- HOF / arrays


@register(
    "q_hof",
    """
    SELECT vec_id,
           CAST(list_sum(list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS sum_milli,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def q_hof(spark, sf):
    # Mirror DuckDB list_sum's NULL semantics exactly: NULL elements
    # are SKIPPED (Spark's aggregate would poison the fold to NULL),
    # and a list with no non-NULL elements sums to NULL, not 0.
    from accountant_pdf_extract_spark.operators.similarity import (
        quantized_array,
    )

    # THE single-sourced quantizer (similarity.quantized_array) — an
    # inline copy here could silently fork from the operators on a
    # rounding-mode change
    vals = F.filter(
        quantized_array(F.col("embedding")),
        lambda v: v.isNotNull(),
    )
    summed = F.aggregate(
        vals, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return t(spark, sf, "embeddings").select(
        "vec_id",
        F.when(F.size(vals) == 0, F.lit(None).cast("long"))
        .otherwise(summed)
        .alias("sum_milli"),
        F.size("embedding").alias("dim"),
    )


@register(
    "q_explode",
    """
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS pos,
           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS comp_milli
    FROM embeddings
    WHERE vec_id < 10
    """,
)
def q_explode(spark, sf):
    return (
        t(spark, sf, "embeddings")
        .where(F.col("vec_id") < 10)
        .select(
            "vec_id",
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.round(x.cast("double") * 1000).cast("long"),
                )
            ).alias("pos", "comp_milli"),
        )
    )


@register(
    "q_collect",
    """
    SELECT label,
           string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id) AS ids,
           count(*) AS n
    FROM embeddings GROUP BY label
    """,
)
def q_collect(spark, sf):
    return (
        t(spark, sf, "embeddings")
        .groupBy("label")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("vec_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("ids"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q_sort",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 100
    """,
)
def q_sort(spark, sf):
    return (
        t(spark, sf, "customer")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(100)
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "q_sessionize",
    """
    WITH lagd AS (
      SELECT user_id, event_id, ts,
             CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL)
    SELECT user_id, event_id,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS session_idx
    FROM lagd
    """,
)
def q_sessionize(spark, sf):
    from accountant_pdf_extract_spark.operators.sessions import sessionize

    return sessionize(t(spark, sf, "events"), gap_minutes=30).select(
        "user_id", "event_id", "session_idx"
    )


@register(
    "q_grouped_stats",
    """
    SELECT user_id, count(*) AS n_events,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS median_cents,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.75)
             - quantile_cont(CAST(round(value * 100) AS BIGINT), 0.25) AS iqr_cents
    FROM events GROUP BY user_id
    """,
)
def q_grouped_stats(spark, sf):
    from accountant_pdf_extract_spark.operators.sessions import grouped_stats

    return grouped_stats(t(spark, sf, "events"))


@register(
    "q_ntile",
    """
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    """,
)
def q_ntile(spark, sf):
    # NOT F.ntile over an unpartitioned window — that is a
    # single-partition sort of the whole table.  scalable_ntile
    # reproduces exact ntile semantics via range-bucketed partitioned
    # windows + broadcast offsets (operators/ranking.py).  DESC order
    # by negating integer cents (exact).
    from accountant_pdf_extract_spark.operators.ranking import scalable_ntile

    cust = t(spark, sf, "customer")
    return scalable_ntile(
        cust,
        4,
        -cents(F.col("c_acctbal")),
        F.col("c_custkey"),
        tile_col="quartile",
    ).select("c_custkey", "quartile")


@register(
    "q_asof",
    """
    WITH l AS (
      SELECT user_id, ts, event_id FROM events WHERE event_id % 2 = 0),
    r0 AS (
      SELECT user_id, ts, event_id AS quote_id,
             CAST(round(value * 100) AS BIGINT) AS quote_cents
      FROM events WHERE event_id % 2 = 1),
    r AS (
      SELECT user_id, ts, quote_id, quote_cents FROM (
        SELECT r0.*, row_number() OVER (PARTITION BY user_id, ts
                                        ORDER BY quote_id DESC) AS rn
        FROM r0) WHERE rn = 1)
    SELECT l.user_id, l.event_id, r.quote_id, r.quote_cents
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_asof(spark, sf):
    """Backward as-of join (point-in-time): even events join the most
    recent odd event at-or-before them per user.  Engine = union +
    running-last composition (operators/asof.py, one shuffle); oracle =
    DuckDB's native ASOF LEFT JOIN."""
    from accountant_pdf_extract_spark.operators.asof import asof_join_backward

    ev = t(spark, sf, "events")
    left = ev.where(ev.event_id % 2 == 0).select("user_id", "ts", "event_id")
    right = (
        ev.where(ev.event_id % 2 == 1)
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("quote_id"),
            cents(F.col("value")).alias("quote_cents"),
        )
    )
    # r6: the (user_id, ts) dedup keeps the max-quote_id row; quote_id
    # (= event_id) is unique, so max(struct(quote_id, quote_cents)) is
    # the identical winner as rn=1 ORDER BY quote_id DESC — but as a
    # partial-aggregating hash aggregate instead of r5's
    # Sort+WindowGroupLimit+Exchange+Sort+Window, whose first sort ran
    # inside the single scan task of the one-row-group events file
    # (guide §2.3/§2.4).  The oracle keeps the row_number formulation.
    right = (
        right.groupBy("user_id", "ts")
        .agg(F.max(F.struct("quote_id", "quote_cents")).alias("_q"))
        .select(
            "user_id",
            "ts",
            F.col("_q.quote_id").alias("quote_id"),
            F.col("_q.quote_cents").alias("quote_cents"),
        )
    )
    return asof_join_backward(
        left, right, on="ts", by="user_id",
        right_cols=["quote_id", "quote_cents"],
    ).drop("ts")
