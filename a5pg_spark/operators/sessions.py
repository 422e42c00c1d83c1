"""Event-time operators: sessionization and distributed as-of join.

Neither exists in the reference (a5pg is a cell-index extension); both are
table-stakes for the event/training-data pipelines this engine targets, and
both have exact ANSI-SQL oracles (window functions; DuckDB ``ASOF JOIN``).

Scale design — the two classic patterns, chosen over their naive rivals:

* ``sessionize`` is gaps-and-islands: ONE shuffle on the entity key, then a
  per-partition sort feeding two window functions (lag → new-session flag,
  running sum → session ordinal).  No self-join, no explode.  Entity keys
  are independent, so skew is bounded by the hottest single user — the same
  property Structured Streaming's ``session_window`` relies on.

* ``asof_join`` is the union-marker trick: tag right rows 0 and left rows 1,
  union, and take ``last(right_payload, ignorenulls)`` over a window ordered
  by (ts, side) within the key.  ONE shuffle of (|L|+|R|) slim rows — never
  a range-explode, never a per-left-row probe, never a broadcast of the
  whole right side.  This is how Flink's temporal join and pandas
  ``merge_asof`` semantics (direction='backward', exact match allowed)
  distribute.  Ties: a right row at exactly the left row's timestamp wins
  (side 0 sorts before side 1), matching DuckDB's ``l.ts >= r.ts``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def epoch_us(c: Column) -> Column:
    """Epoch microseconds via tz-free NTZ arithmetic (``timestamp_diff`` from
    a fixed NTZ epoch) — bit-identical to DuckDB's ``epoch_us`` on parquet
    TIMESTAMP(isAdjustedToUTC=false) columns, and immune to session-timezone
    DST offsets that would skew ``unix_micros(cast(ts as timestamp))`` across
    a DST boundary.  LTZ inputs are first rendered in the session timezone.
    """
    ntz = c.cast("timestamp_ntz")
    origin = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", origin, ntz)


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Assign 1-based session ordinals per key: a new session starts when the
    gap since the previous event exceeds ``gap_seconds``.

    Adds ``session_no`` (long).  Timestamps are compared in epoch
    microseconds (``epoch_us`` above) so the result is timezone-independent.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    us = epoch_us(F.col(ts_col))
    prev = F.lag(us).over(w)
    new_sess = F.when(
        prev.isNull() | ((us - prev) > F.lit(gap_seconds * 1_000_000)), 1
    ).otherwise(0)
    run = Window.partitionBy(key_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_no", F.sum(new_sess).over(run).cast("long"))


def session_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    value_col: str | None = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-session rollup: event count, span in seconds, optional value sum.

    Output: (key, session_no, n_events, span_s, sum_value?) — one row per
    session, the shape a funnel/engagement pipeline materializes.
    """
    s = sessionize(df, key_col, ts_col, gap_seconds, tiebreak_col)
    us = epoch_us(F.col(ts_col))
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000.0)).alias("span_s"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias("sum_value"))
    return s.groupBy(key_col, "session_no").agg(*aggs)


def session_window_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    value_col: str = "value",
) -> DataFrame:
    """Per-session rollup through Spark's native ``session_window`` operator
    (merging windows), the independent counterpart of ``session_stats``.

    Output: (key, start_us, n_events, sum_value), sorted by (key, start_us)
    within each partition.  ONE exchange: the up-front range partitioning
    on the key serves both the session-window state operator's required
    clustering and the output order, so the final sort is partition-local.
    """
    spark = df.sparkSession
    ev = df.repartitionByRange(spark.sparkContext.defaultParallelism, key_col)
    return (
        ev.groupBy(key_col, F.session_window(F.col(ts_col), f"{gap_seconds} seconds"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            key_col,
            epoch_us(F.col("session_window.start")).alias("start_us"),
            "n_events",
            "sum_value",
        )
        .sortWithinPartitions(key_col, "start_us")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """Join each left row to the nearest right row with
    ``right.ts <= left.ts`` within the same key (backward as-of, exact match
    allowed) — the pandas ``merge_asof`` / DuckDB ``ASOF JOIN`` contract.

    ``payload_cols`` are the right-side columns carried onto matched left
    rows (returned as ``asof_<name>``, NULL when no prior right row exists;
    ``how='inner'`` drops the unmatched).  Left columns pass through.

    If several right rows share a key+timestamp the one that sorts LAST by
    payload wins deterministically — pre-dedup the right side if another
    rule is wanted.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    keys = list(key_cols)
    pay = list(payload_cols)
    ltag = [c for c in left.columns]

    r = right.select(
        *[F.col(k) for k in keys],
        epoch_us(F.col(right_ts)).alias("__us"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"asof_{c}") for c in pay],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in ltag],
    )
    l = left.select(
        *[F.col(k) for k in keys],
        epoch_us(F.col(left_ts)).alias("__us"),
        F.lit(1).alias("__side"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"asof_{c}")
            for c in pay
        ],
        *[F.col(c).alias(f"__l_{c}") for c in ltag],
    )
    # right rows sort before left rows at equal timestamps, and among right
    # ties the payload columns break the order — so `last(ignorenulls)` is
    # deterministic
    w = (
        Window.partitionBy(*keys)
        .orderBy("__us", "__side", *[f"asof_{c}" for c in pay])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = r.unionByName(l)
    # one select so every fill reads the PRE-fill payload columns (a chain of
    # withColumn would re-order later windows by already-filled values)
    filled = u.select(
        "__side",
        *[F.col(f"__l_{c}").alias(c) for c in ltag],
        *[
            F.last(f"asof_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in pay
        ],
    )
    out = filled.filter(F.col("__side") == 1).drop("__side")
    if how == "inner":
        out = out.filter(F.col(f"asof_{pay[0]}").isNotNull())
    return out
