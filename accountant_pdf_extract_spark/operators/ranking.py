"""Scale-safe EXACT global ranking (ntile over a whole table) without
a single-partition sort.

``Window.orderBy(...)`` with no ``partitionBy`` funnels the entire
input through ONE task — the classic 100-TB scale killer (fine at
sf0.01, a wall at 1000 executors).  The distributed shape used here is
the standard two-phase order-statistics pattern:

1. range-bucket rows by approximate percentile boundaries of the rank
   key (boundaries need NOT be exact — any split works; accuracy only
   affects balance, never correctness);
2. row_number inside each bucket via a PARTITIONED window (parallel);
3. add each bucket's global offset = total rows in lower buckets,
   computed from the tiny per-bucket count relation and broadcast.

The result is the exact global position under (rank ASC, tiebreak
ASC) — identical to ``row_number() OVER (ORDER BY ...)`` — with every
wide stage partitioned.  The only unpartitioned window runs over the
``num_buckets``-row count relation (bounded metadata, not data).

The boundaries are collected to the driver ONCE and embedded as a
literal (the same move Spark's own RangePartitioner makes): a
nondeterministic ``percentile_approx`` relation referenced by two
plan branches would otherwise rely on exchange reuse for both
branches to see identical boundaries — with reuse disabled or broken
by recovery, a boundary-straddling row could land in bucket k in one
branch and k±1 in the other, corrupting offsets.  The collect is one
job over a tiny aggregate — bounded metadata, not data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_INTERNAL = ("_rk", "_tb", "_bkt", "_off", "_total", "_cnt", "_pos")


def _pos_with_total(
    df: DataFrame,
    rank_expr: Column,
    tiebreak: Column,
    num_buckets: int,
) -> DataFrame:
    """Exact 1-based global position ``_pos`` ordered by (``rank_expr``
    ASC, ``tiebreak`` ASC), plus the total row count as ``_total`` (the
    ntile formula needs it)."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    clash = set(_INTERNAL) & set(df.columns)
    if clash:
        raise ValueError(
            f"columns {sorted(clash)} collide with ranking internals/"
            "output; rename them first"
        )
    b = df.withColumn("_rk", rank_expr).withColumn("_tb", tiebreak)
    # boundaries to the driver once, embedded as a literal (see module
    # docstring).  num_buckets=1 (or an all-NULL rank key, where
    # percentile_approx returns NULL) degrades to zero boundaries =
    # one bucket — correct, just unparallel, never row-dropping.
    if num_buckets > 1:
        row = b.agg(
            F.percentile_approx(
                "_rk",
                [i / num_buckets for i in range(1, num_buckets)],
                10000,
            ).alias("_bounds")
        ).first()
        bound_vals = [v for v in (row["_bounds"] or []) if v is not None]
    else:
        bound_vals = []
    # bucket = #boundaries strictly below the key: equal keys always
    # land in the same bucket, so the later per-bucket window sees
    # every tie group whole.  NULL keys get bucket 0 (x < NULL is
    # never true) — they sort first within the bucket window exactly
    # like a plain global window's NULLS FIRST.
    if bound_vals:
        bkt = F.size(
            F.filter(
                F.array(*[F.lit(v) for v in bound_vals]),
                lambda x: x < F.col("_rk"),
            )
        )
    else:
        bkt = F.lit(0)
    b = b.withColumn("_bkt", F.coalesce(bkt, F.lit(0)))
    counts = b.groupBy("_bkt").agg(F.count("*").alias("_cnt"))
    # unpartitioned window over <= num_buckets rows — bounded metadata
    woff = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_bkt",
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_total"),
    )
    w = Window.partitionBy("_bkt").orderBy("_rk", "_tb")
    return (
        b.join(F.broadcast(offsets), "_bkt")
        .withColumn("_pos", F.row_number().over(w) + F.col("_off"))
        .drop("_rk", "_tb", "_bkt", "_off")
    )


def scalable_ntile(
    df: DataFrame,
    n_tiles: int,
    rank_expr: Column,
    tiebreak: Column,
    num_buckets: int = 32,
    tile_col: str = "tile",
) -> DataFrame:
    """Exact ``ntile(n_tiles) OVER (ORDER BY rank_expr, tiebreak)``
    semantics (first ``n mod k`` tiles get the extra row) from the
    global position — no unpartitioned data-sized window anywhere."""
    if n_tiles < 1:
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    pos = _pos_with_total(df, rank_expr, tiebreak, num_buckets)
    base = F.floor(F.col("_total") / n_tiles)
    rem = F.col("_total") % n_tiles
    big_span = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    tile = F.when(
        F.col("_pos") <= big_span,
        F.floor((F.col("_pos") - 1) / (base + 1)) + 1,
    ).otherwise(rem + F.floor((F.col("_pos") - big_span - 1) / base) + 1)
    return pos.withColumn(tile_col, tile.cast("long")).drop("_pos", "_total")
