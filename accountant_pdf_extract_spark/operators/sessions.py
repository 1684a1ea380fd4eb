"""Sessionization + grouped-map statistics over the events stream
table — the batch expression of stateful event-series analysis
(SURVEY.md §2.10 notes the commit-log batch-incremental stance; these
give the windowed/stateful surface in pure DataFrame form).

``sessionize`` is the classic gap-based session assignment as two
window functions (lag + running sum) — no Python, one shuffle on the
partition key.  ``grouped_stats`` is the grouped-map ``applyInPandas``
surface (pandas per group, numpy inside) used where per-group logic
outgrows SQL aggregates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ntz_epoch_seconds(c):
    """Seconds-since-epoch of a TIMESTAMP_NTZ wall time, independent of
    the session timezone (casting NTZ through TIMESTAMP interprets the
    wall time in the session zone — wrong under a non-UTC driver, and
    DST transitions would corrupt gap arithmetic).  Matches DuckDB's
    floor(epoch(ts)) on naive timestamps."""
    # unix_date returns INT32 — the *86400 must happen in 64-bit or
    # any ts on/after 2038-01-19 overflows (ARITHMETIC_OVERFLOW crash
    # under Spark 4's default ansi=true; silent wrap under ansi=false)
    return (
        F.unix_date(F.to_date(c)).cast("long") * 86400
        + F.hour(c) * 3600
        + F.minute(c) * 60
        + F.second(c)
    ).cast("long")


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Assign a per-user session index: a new session starts when the
    gap from the previous event exceeds ``gap_minutes``."""
    # a NULL timestamp cannot belong to any gap-defined session, and
    # its ordering FORKS between engines (Spark windows sort NULLS
    # FIRST, DuckDB ORDER BY defaults NULLS LAST — same row, different
    # session_idx) — drop such rows on both sides (oracle twins carry
    # the matching WHERE ts IS NOT NULL)
    events = events.where(F.col(ts_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_s = gap_minutes * 60
    is_new = (
        F.when(
            ntz_epoch_seconds(F.col(ts_col))
            - F.lag(ntz_epoch_seconds(F.col(ts_col))).over(w)
            > gap_s,
            1,
        )
        .otherwise(0)
    )
    return events.select(
        user_col,
        id_col,
        ts_col,
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_idx"),
    )


def grouped_stats(events: DataFrame) -> DataFrame:
    """Per-user robust stats via grouped-map ``applyInPandas`` (the
    A5 custom vectorized aggregate surface): median/IQR on integer
    cents — numpy per group, Arrow in/out, no per-row Python."""

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL values: count(*) counts the row, the quantiles skip it
        # (DuckDB quantile_cont semantics).  NaN AND ±inf must be
        # dropped BEFORE the int cast — floor(NaN/±inf).astype('int64')
        # silently emits INT64_MIN and drags the quantiles to garbage.
        v = pdf["value"].to_numpy()
        v = v[np.isfinite(v)]
        # half-up AWAY FROM ZERO, the numpy twin of driver_queries.cents
        # (pandas .round() is half-to-even, and floor(x*100+0.5) rounds
        # toward +inf on negatives: both diverge from DuckDB round())
        cents = pd.Series(
            np.copysign(np.floor(np.abs(v) * 100 + 0.5), v).astype("int64")
        )

        def q(p):
            # linear interpolation == DuckDB quantile_cont; all-NULL
            # group -> NULL (pandas would give NaN, DuckDB gives NULL)
            return float(cents.quantile(p)) if len(cents) else None

        med, q3, q1 = q(0.5), q(0.75), q(0.25)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "median_cents": [med],
                "iqr_cents": [q3 - q1 if len(cents) else None],
            }
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandas(
        stats,
        schema="user_id long, n_events long, median_cents double, iqr_cents double",
    )
