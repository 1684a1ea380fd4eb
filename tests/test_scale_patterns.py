"""Scale-pattern evidence tests: bucketed co-located joins (no
Exchange), map-side dedup plans, as-of and ranking operators checked
against their plain forms."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark, tmp_path: pathlib.Path):
    """Pre-bucketed tables co-locate join keys at write time — the
    join plan shows zero shuffle Exchange (the 100 TB pattern for
    repeatedly-joined fact tables)."""
    # warehouse.dir is a static conf — tables land in ./spark-warehouse
    # (gitignored); clear any stale locations first
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    for stale in ("spark-warehouse/b_orders", "spark-warehouse/b_lineitem"):
        shutil.rmtree(stale, ignore_errors=True)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
    )
    (
        li.withColumn("o_orderkey", F.col("l_orderkey"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
    )
    # small tables would otherwise broadcast — force the SMJ path the
    # pattern targets (at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"), "o_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_dedup_plans_are_map_side(spark):
    """Regression guard for VERDICT r1 #3/#4: simhash and minhash must
    stay free of crossJoin fan-outs — no BroadcastNestedLoopJoin, no
    CartesianProduct, and no aggregation Exchange (the only permitted
    exchange is the local round-robin small-file fan-out)."""
    from accountant_pdf_extract_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        dedup.simhash16(docs),
        dedup.minhash_bands(docs, k=8, bands=4),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "HashAggregate" not in plan, plan
        exchanges = [
            l for l in plan.splitlines() if "Exchange" in l
        ]
        assert all("roundrobin" in l.lower() for l in exchanges), exchanges


def test_asof_join_backward_semantics(spark):
    """Handcrafted edges: exact-timestamp tie matches (<=), earlier
    right row carries forward, no-preceding-row yields nulls, and a
    null FIELD in the matched right row must not stitch in an older
    row's value (all-or-nothing struct semantics)."""
    from accountant_pdf_extract_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 5, 100), (1, 10, 101), (1, 2, 102), (2, 7, 200)],
        "k long, t long, lid long",
    )
    right = spark.createDataFrame(
        # the (1, NULL, ...) row must never match: a null timestamp
        # cannot satisfy right.t <= left.t (old code sorted it NULLS
        # FIRST and leaked it into early left rows)
        [(1, 3, 900, 33), (1, 10, 901, None), (2, 9, 902, 99),
         (1, None, 999, 77)],
        "k long, t long, rid long, rv long",
    )
    out = {
        r["lid"]: (r["rid"], r["rv"])
        for r in asof_join_backward(
            left, right, on="t", by="k", right_cols=["rid", "rv"]
        ).collect()
    }
    assert out[100] == (900, 33)     # carried forward from t=3
    assert out[101] == (901, None)   # tie t=10 matches; rv stays None
    assert out[102] == (None, None)  # nothing at-or-before t=2
    assert out[200] == (None, None)  # right row at t=9 is after t=7


def test_asof_join_matches_bruteforce_oracle(spark):
    """Property-style check on a seeded random frame: the union +
    running-last composition equals the quadratic definition (max
    right.t <= left.t per key)."""
    import random

    from accountant_pdf_extract_spark.operators.asof import asof_join_backward

    rng = random.Random(7)
    left_rows = [
        (rng.randrange(6), rng.randrange(50), 1000 + i) for i in range(120)
    ]
    right_rows = {}
    for j in range(80):
        k, t_ = rng.randrange(6), rng.randrange(50)
        # unique per (k, t): keep max rid like the operator contract
        right_rows[(k, t_)] = max(right_rows.get((k, t_), -1), 2000 + j)
    right_list = [(k, t_, rid, rid * 10) for (k, t_), rid in right_rows.items()]

    left = spark.createDataFrame(left_rows, "k long, t long, lid long")
    right = spark.createDataFrame(right_list, "k long, t long, rid long, rv long")
    got = {
        r["lid"]: (r["rid"], r["rv"])
        for r in asof_join_backward(
            left, right, on="t", by="k", right_cols=["rid", "rv"]
        ).collect()
    }
    assert len(got) == len({l[2] for l in left_rows}) == 120
    for k, t_, lid in left_rows:
        cands = [
            (tt, rid) for (kk, tt), rid in right_rows.items()
            if kk == k and tt <= t_
        ]
        expect = (None, None)
        if cands:
            _, rid = max(cands)
            expect = (rid, rid * 10)
        assert got[lid] == expect, (lid, got[lid], expect)


def test_scalable_ntile_matches_window_ntile(spark):
    """Exact ntile semantics (first n%k tiles take the extra row) at
    several row counts, including n < k and n % k != 0."""
    from pyspark.sql.window import Window

    from accountant_pdf_extract_spark.operators.ranking import scalable_ntile

    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    for n_rows, k in ((1500, 4), (103, 7), (3, 5)):
        sub = cust.orderBy("c_custkey").limit(n_rows)
        got = {
            r["c_custkey"]: r["tile"]
            for r in scalable_ntile(
                sub,
                k,
                -F.round(F.col("c_acctbal") * 100).cast("long"),
                F.col("c_custkey"),
                num_buckets=8,
            ).select("c_custkey", "tile").collect()
        }
        w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        want = {
            r["c_custkey"]: r["tile"]
            for r in sub.select(
                "c_custkey", F.ntile(k).over(w).alias("tile")
            ).collect()
        }
        assert got == want, (n_rows, k)


def test_ranking_plans_have_no_global_data_window(spark):
    """The physical plan of q_ntile must not sort the DATA through an
    unpartitioned window: its windows are all partitioned or
    bounded-metadata-sized."""
    from accountant_pdf_extract_spark.plans.driver_queries import queries

    sf = "/root/testdata/sf0.001"
    ntile_plan = queries()["q_ntile"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    # every Window node must either carry a partition spec (the
    # per-bucket row_number — parallel) or aggregate the tiny per-bucket
    # COUNT relation (_cnt, <= num_buckets rows of metadata); no
    # unpartitioned window may ever see table rows
    win_lines = [
        ln for ln in ntile_plan.splitlines() if "Window [" in ln
    ]
    assert win_lines, ntile_plan
    for ln in win_lines:
        partitioned = "windowspecdefinition(_bkt#" in ln
        metadata_sized = "sum(_cnt#" in ln
        assert partitioned or metadata_sized, ln


def test_asof_null_keys_and_collisions(spark):
    """SQL semantics on NULLs: a NULL by-key right row matches nothing
    and a NULL by-key left row passes through unmatched; colliding
    output/reserved column names refuse up front."""
    import pytest

    from accountant_pdf_extract_spark.operators.asof import (
        asof_join_backward,
    )

    left = spark.createDataFrame(
        [(None, 10, "ln"), (1, 10, "l1")], "k long, ts long, tag string"
    )
    right = spark.createDataFrame(
        [(None, 5, "rn"), (1, 5, "r1")], "k long, ts long, v string"
    )
    got = {
        r["tag"]: r["v"]
        for r in asof_join_backward(
            left, right, on="ts", by="k", right_cols=["v"]
        ).collect()
    }
    assert got == {"ln": None, "l1": "r1"}  # NULL keys never match

    with pytest.raises(ValueError, match="collision"):
        asof_join_backward(left, right, on="ts", by="k",
                           right_cols=["v", "tag"])
    with pytest.raises(ValueError, match="collision"):
        asof_join_backward(left.withColumn("_side", F.lit(1)), right,
                           on="ts", by="k", right_cols=["v"])


def test_grouped_stats_null_value_skipped_not_int64min(spark):
    """A NULL value must be skipped by the quantiles (never floor(NaN)
    -> INT64_MIN garbage); count(*) still counts the row; an all-NULL
    group yields NULL stats like DuckDB quantile_cont."""
    from accountant_pdf_extract_spark.operators import sessions

    ev = spark.createDataFrame(
        [(1, 1.0), (1, None), (1, 3.0), (2, None)],
        "user_id long, value double",
    )
    got = {r["user_id"]: r.asDict() for r in
           sessions.grouped_stats(ev).collect()}
    assert got[1]["n_events"] == 3 and got[1]["median_cents"] == 200.0
    assert got[2]["n_events"] == 1 and got[2]["median_cents"] is None


def test_packing_guards_null_tokens_and_bad_budget(spark):
    import pytest

    from accountant_pdf_extract_spark.operators.packing import (
        pack_token_shards,
    )

    df = spark.createDataFrame(
        [("a", 5), ("b", None), ("c", 7)], "doc_id string, n long"
    )
    with pytest.raises(ValueError, match="budget"):
        pack_token_shards(df, "doc_id", "n", budget=0)
    out = pack_token_shards(df, "doc_id", "n", budget=10).collect()
    # NULL token count packs as 0 tokens: every doc still gets a
    # non-null, group-prefixed shard key
    assert all(r["shard_key"] is not None and "-" in r["shard_key"]
               for r in out)
    assert len(out) == 3


def test_global_rank_degenerate_bounds_not_empty(spark):
    """num_buckets=1 and all-NULL rank keys must DEGRADE to one bucket
    (still every row ranked), never silently drop to an empty result;
    internal-column collisions and a zero tile count refuse up front."""
    import pytest

    from accountant_pdf_extract_spark.operators.ranking import scalable_ntile

    df = spark.createDataFrame([(i, i * 10) for i in range(10)],
                               "id long, v long")
    one = scalable_ntile(df, 10, F.col("v"), F.col("id"), num_buckets=1)
    assert sorted((r["id"], r["tile"]) for r in one.collect()) == [
        (i, i + 1) for i in range(10)]

    nulls = spark.createDataFrame([(i,) for i in range(5)], "id long")
    got = scalable_ntile(
        nulls, 5, F.lit(None).cast("long"), F.col("id"), num_buckets=8)
    assert sorted((r["id"], r["tile"]) for r in got.collect()) == [
        (i, i + 1) for i in range(5)]

    with pytest.raises(ValueError, match="collide"):
        scalable_ntile(df.withColumn("_rk", F.lit(1)), 2, F.col("v"),
                       F.col("id"))
    with pytest.raises(ValueError, match="n_tiles"):
        scalable_ntile(df, 0, F.col("v"), F.col("id"))
