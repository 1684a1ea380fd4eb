"""Scale-pattern evidence tests: bucketed co-located joins (no
Exchange), map-side dedup plans, as-of, range and ranking operators
checked against their plain forms."""

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


def test_global_row_number_matches_window(spark):
    """Exact equivalence with row_number() OVER (ORDER BY ...) — but
    built from partitioned windows + broadcast offsets only (scale
    shape), including with heavy ties in the rank key."""
    from pyspark.sql.window import Window

    from accountant_pdf_extract_spark.operators.ranking import (
        global_row_number,
    )

    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    key = -F.round(F.col("c_acctbal") * 100).cast("long")
    got = {
        r["c_custkey"]: r["pos"]
        for r in global_row_number(
            cust, key, F.col("c_custkey"), num_buckets=8
        ).select("c_custkey", "pos").collect()
    }
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    want = {
        r["c_custkey"]: r["pos"]
        for r in cust.select(
            "c_custkey", F.row_number().over(w).alias("pos")
        ).collect()
    }
    assert got == want

    # output contract: input columns + pos_col, nothing else leaks
    out_cols = global_row_number(
        cust, key, F.col("c_custkey"), num_buckets=8
    ).columns
    assert out_cols == cust.columns + ["pos"]

    # heavy ties: constant rank key -> position = tiebreak order
    tied = cust.limit(100)
    gt = {
        r["c_custkey"]: r["pos"]
        for r in global_row_number(
            tied, F.lit(0), F.col("c_custkey"), num_buckets=4
        ).select("c_custkey", "pos").collect()
    }
    keys = sorted(gt)
    assert [gt[k] for k in keys] == list(range(1, len(keys) + 1))


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


def test_range_join_matches_nonequi_join(spark):
    """Bucketed range join ≡ the plain non-equi BETWEEN join, including
    the long-interval broadcast tail; the short path's physical plan
    must be an EQUI join (hash/merge), never BroadcastNestedLoop."""
    from accountant_pdf_extract_spark.operators.rangejoin import range_join

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", F.floor(F.unix_timestamp("ts") / 86400).alias("d")
    )
    iv = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select(
            "o_orderkey",
            F.floor(F.unix_timestamp("o_orderdate") / 86400).alias("lo"),
        )
        .withColumn(
            # mixed lengths: mostly 7-day windows, a rare giant window
            # that must route through the broadcast tail
            "hi",
            F.when(F.col("o_orderkey") % 997 == 0, F.col("lo") + 10_000)
            .otherwise(F.col("lo") + 7),
        )
    )
    got = range_join(ev, iv, "d", "lo", "hi", bucket_width=7, max_span_buckets=64)
    want = ev.join(iv, F.col("d").between(F.col("lo"), F.col("hi")))
    key = lambda r: (r["event_id"], r["o_orderkey"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))

    # the bulk (short-interval) path must be an EQUI join on the
    # bucket id — a hash/merge join keyed on _rj_b, never the
    # BroadcastNestedLoopJoin Spark would plan for the raw BETWEEN
    short_iv = iv.withColumn("hi", F.col("lo") + 7)
    plan = (
        range_join(ev, short_iv, "d", "lo", "hi", bucket_width=7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    equi_join_lines = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "_rj_b" in ln and "NestedLoop" not in ln
    ]
    assert equi_join_lines, plan
    # the only NestedLoop allowed is the long-tail leg, which carries
    # zero interval rows here (every window is 1-2 buckets wide)
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "_rj_b" not in ln

    # overlapping-column refusal
    import pytest

    with pytest.raises(ValueError, match="share columns"):
        range_join(
            ev.withColumnRenamed("d", "lo"), iv, "lo", "lo", "hi", 7
        )


def test_repetition_features_plan_is_map_only(spark):
    """The repetition signals must stay a scan->project plan: zero
    Exchange, zero Generate/Aggregate — the property that lets
    repetition filtering run before a pipeline's first shuffle."""
    from accountant_pdf_extract_spark.operators.textstats import (
        repetition_features,
    )

    df = repetition_features(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan and "Aggregate" not in plan, plan


def test_oov_rate_plan_scores_without_corpus_shuffle(spark):
    """oov_rate's vocabulary cut must plan as TakeOrderedAndProject
    (never a global sort of token counts), and the scoring side of the
    plan must not shuffle the corpus: the only exchanges belong to the
    vocabulary aggregation (token counts + the one-row collect_list),
    plus the broadcast of that one row."""
    from accountant_pdf_extract_spark.operators.textstats import oov_rate

    df = oov_rate(spark.read.parquet(f"{SF}/documents.parquet"), vocab_size=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "Sort " not in plan.replace("SortAggregate", ""), plan


def test_range_join_query_is_not_vacuous(spark):
    """q_range_join's constant era shift must keep the point and
    interval domains overlapping: a regeneration of either table's
    date era would silently re-vacuize the query (0 rows passes
    parity while gating nothing — the exact bug fixed in r3)."""
    from accountant_pdf_extract_spark.plans import driver_queries

    df = driver_queries.queries()["q_range_join"](spark, SF)
    rows = df.collect()
    assert rows and sum(r["n"] for r in rows) > 0, (
        "q_range_join matched nothing — the 10592-day shift no longer "
        "lands events inside the orders era; re-derive the constant"
    )


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


def test_range_join_rejects_reserved_columns(spark):
    import pytest

    from accountant_pdf_extract_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame([(1, 5)], "p long, _rj_b long")
    iv = spark.createDataFrame([(0, 10)], "lo long, hi long")
    with pytest.raises(ValueError, match="reserved"):
        range_join(pts, iv, "p", "lo", "hi", bucket_width=7)


def test_global_rank_degenerate_bounds_not_empty(spark):
    """num_buckets=1 and all-NULL rank keys must DEGRADE to one bucket
    (still every row ranked), never silently drop to an empty result;
    internal-column collisions refuse up front."""
    import pytest

    from accountant_pdf_extract_spark.operators.ranking import (
        global_row_number,
    )

    df = spark.createDataFrame([(i, i * 10) for i in range(10)],
                               "id long, v long")
    one = global_row_number(df, F.col("v"), F.col("id"), num_buckets=1)
    assert sorted((r["id"], r["pos"]) for r in one.collect()) == [
        (i, i + 1) for i in range(10)]

    nulls = spark.createDataFrame([(i,) for i in range(5)], "id long")
    got = global_row_number(
        nulls, F.lit(None).cast("long"), F.col("id"), num_buckets=8)
    assert sorted((r["id"], r["pos"]) for r in got.collect()) == [
        (i, i + 1) for i in range(5)]

    with pytest.raises(ValueError, match="collide"):
        global_row_number(df.withColumn("_rk", F.lit(1)), F.col("v"),
                          F.col("id"))
    from accountant_pdf_extract_spark.operators.ranking import scalable_ntile
    with pytest.raises(ValueError, match="n_tiles"):
        scalable_ntile(df, 0, F.col("v"), F.col("id"))
