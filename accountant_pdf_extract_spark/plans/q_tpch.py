"""TPC-H classics over the driver's TPC-H-ish testdata — recognizable
benchmark shapes (pricing summary, shipping priority, local-supplier
volume, forecast revenue) with integer-cents determinism for the
DuckDB oracle.  Q1/Q6 are scan+agg; Q3/Q5 exercise multi-join plans
(broadcast dims + shuffle fact joins chosen by Catalyst/AQE).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from accountant_pdf_extract_spark.plans.driver_queries import cents, register, t

_CUTOFF = "1998-09-01"


@register(
    "tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf):
    li = t(spark, sf, "lineitem").where(F.col("l_shipdate") <= _CUTOFF)
    price = F.col("l_extendedprice")
    disc = F.col("l_discount")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents"),
        F.sum(cents(price)).alias("sum_base_cents"),
        F.sum(cents(price * (1 - disc))).alias("sum_disc_cents"),
        F.sum(cents(price * (1 - disc) * (1 + F.col("l_tax")))).alias(
            "sum_charge_cents"
        ),
        F.count("*").alias("count_order"),
    )


@register(
    "tpch_q3",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, orderdate
    ORDER BY revenue_cents DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark, sf):
    c = t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = t(spark, sf, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    cc = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("orderdate"))
        .agg(F.sum(cc).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue_cents", "orderdate")
    )


@register(
    "tpch_q5",
    """
    SELECT n.n_name,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def tpch_q5(spark, sf):
    """Local-supplier volume.  r6 join order (same join graph, inner
    joins commute — identical result, oracle unchanged): the selective
    region='ASIA' filter reaches the FACT table first via a broadcast
    of the ASIA-filtered supplier⋈nation dim (guide §3.1/§3.2: reduce
    the big side before shuffling it).  r5 shuffled ALL of lineitem by
    orderkey into the SMJ and only then applied the supplier/nation/
    region broadcasts; here lineitem is pre-filtered to ~1/|regions|
    of its rows AND pre-projected to integer cents before the only
    big exchange (guide §2.3: project before the exchange, narrower
    types)."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    cc = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    s_asia = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    li2 = (
        li.join(F.broadcast(s_asia), li.l_suppkey == s_asia.s_suppkey)
        .select("l_orderkey", "s_nationkey", "n_name", cc.alias("_cents"))
    )
    co = c.join(o, c.c_custkey == o.o_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    return (
        li2.join(
            co,
            (li2.l_orderkey == co.o_orderkey)
            & (li2.s_nationkey == co.c_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum("_cents").alias("revenue_cents"))
    )


@register(
    "tpch_q6",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf):
    li = t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_shipdate") < "1995-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(
            cents(F.col("l_extendedprice") * F.col("l_discount"))
        ).alias("revenue_cents"),
        F.count("*").alias("n"),
    )
