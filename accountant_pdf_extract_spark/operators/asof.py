"""Backward as-of join — the point-in-time join a training-data
pipeline needs (latest feature/quote row at-or-before each event) and
one Spark lacks as a built-in.

Implemented as the scalable union + running-``last`` composition: tag
both sides, union by name, and take the most recent right-side struct
per ``by`` group with an UNBOUNDED PRECEDING → CURRENT ROW running
frame.  One shuffle (the window's partitionBy) and a single linear
pass per group — never the naive range join, whose inequality
predicate degenerates to a per-key cross product and explodes on hot
keys at 100 TB.

Right-side columns ride in ONE struct so a match is all-or-nothing:
``last(ignorenulls)`` over separate columns could stitch fields from
DIFFERENT right rows when a newer row carries a null field.

The DuckDB oracle twin is a native ``ASOF LEFT JOIN``
(``plans/q_relational.q_asof``), giving cross-engine verification of
the tie rule: a right row at exactly left's timestamp matches
(``right.on <= left.on``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str],
) -> DataFrame:
    """Left join each ``left`` row to the single most recent ``right``
    row with ``right[on] <= left[on]`` in the same ``by`` group; the
    ``right_cols`` come back null when no such row exists.

    Caller contract: ``right`` is unique per (by, on) — dedup first
    (e.g. keep the max tiebreaker) or the winner among equal
    timestamps is unspecified.
    """
    left_cols = left.columns
    # output columns must be unambiguous, and the _side/_r tags must
    # not clobber caller data — refuse up front
    clash = (set(right_cols) & set(left_cols)) | (
        {"_side", "_r"} & (set(left_cols) | set(right_cols))
    )
    if clash:
        raise ValueError(
            f"asof_join_backward: column collision {sorted(clash)} — "
            "rename/drop before joining (right_cols may not repeat left "
            "columns; _side/_r are reserved)"
        )
    # right rows with a NULL `on` would sort NULLS FIRST and "match"
    # every left row with no earlier real right row — a null timestamp
    # can never satisfy right.on <= left.on (SQL ASOF agrees: no match).
    # A NULL `by` key likewise never joins in SQL (NULL = NULL is not
    # true) — but Window.partitionBy groups NULLs together, so drop
    # null-key RIGHT rows; null-key left rows then flow through
    # unmatched (null right_cols), exactly the ASOF LEFT JOIN answer.
    right = right.where(F.col(on).isNotNull() & F.col(by).isNotNull())
    rstruct = F.struct(*[F.col(c) for c in right_cols])
    l = left.select(
        *left_cols,
        F.lit(1).alias("_side"),
        F.lit(None)
        .cast(
            right.select(rstruct.alias("_r")).schema["_r"].dataType
        )
        .alias("_r"),
    )
    # one projection, not a withColumn chain (N nested Projects on a
    # wide left frame cost super-linear analysis time)
    r = right.select(
        F.col(by),
        F.col(on),
        F.lit(0).alias("_side"),
        rstruct.alias("_r"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c not in (by, on)
        ],
    )
    u = l.unionByName(r)

    # right rows sort before left rows at equal `on` (_side 0 < 1), so
    # the "at-or-before" tie is included in the running frame
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
    out = matched.where(F.col("_side") == 1).select(
        *left_cols,
        *[F.col("_m")[c].alias(c) for c in right_cols],
    )
    return out
