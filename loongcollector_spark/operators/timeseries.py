"""Time-series telemetry analytics over event streams: trailing-window
anomaly scores and range-window rolling counts.

The reference is a telemetry collector; once its parse → enrich → route
pipeline lands rows in per-sink tables, the first questions asked of
them are time-series ones — "is this metric suddenly abnormal?" and
"how many events did this key produce in the last hour?".  Both
operators are pure window expressions (whole-stage codegen, ONE shuffle
on the partition key) and both are value-checkable against DuckDB's
window engine: the registry oracles are the same window SQL.

Scale notes: each operator shuffles once on its key column; within a
partition the window frames are computed in a single ordered pass.
Skewed keys (one service producing most events) are the usual hazard —
both operators keep the per-row state to a handful of doubles, so a hot
key costs a big sort, not a blow-up; pre-salting is not applicable
(frames need full per-key order).  Parallelism is bounded by
key cardinality: a handful of event types means a handful of tasks
however large the input.

Decomposing a key into blocks (per-key prefix sums) would lift that
bound, but prefix-sum statistics round differently from the sliding
frame and miss the 6-dp oracle in the last digit (SCALE.md, round-5
block engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = ["trailing_zscore", "rolling_count"]


def trailing_zscore(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    lookback_rows: int = 100,
    min_history: int = 20,
) -> DataFrame:
    """Per-key trailing z-score of *value_col*: each row is scored
    against the mean/stddev of the previous *lookback_rows* rows of the
    SAME key (frame excludes the current row, so a spike cannot mask
    itself).  Rows with fewer than *min_history* predecessors get NULL
    — not enough evidence to call anything anomalous.

    Adds ``trail_mean``, ``trail_std``, ``zscore`` (NULL when history
    is short or the trailing std is 0).  The ROWS frame ordered by
    ``(ts, tiebreak)`` makes the result deterministic under ties.

    The sliding frame is evaluated incrementally (O(rows), not
    O(rows × frame)) and window sorts spill.  NULL values are skipped
    by the frame statistics (the history count is ``count(value)``);
    NULL keys form their own partition.
    """
    w = (
        W.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(order_tiebreak).asc())
        .rowsBetween(-lookback_rows, -1)
    )
    mean = F.avg(value_col).over(w)
    std = F.stddev_samp(value_col).over(w)
    cnt = F.count(value_col).over(w)
    ok = (cnt >= min_history) & (std > 0)
    return (
        df.withColumn("trail_mean", F.when(ok, mean))
        .withColumn("trail_std", F.when(ok, std))
        .withColumn(
            "zscore",
            F.when(ok, (F.col(value_col) - mean) / std),
        )
    )


def rolling_count(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_seconds: int = 3600,
) -> DataFrame:
    """Trailing time-window event count per key: for every event, how
    many events the same key produced in the last *window_seconds*
    (inclusive of the current event).  The sliding-window sibling of
    the tumbling rate limiter (filter.rate_limit): this one REPORTS the
    rate; pair with a filter to enforce it.

    A RANGE frame over epoch seconds — peers with equal timestamps all
    see the same count (true RANGE semantics, matching DuckDB/ANSI).
    Adds ``rolling_n``.

    NULL timestamps form one peer group per key.
    """
    secs = F.col(ts_col).cast("timestamp").cast("long")
    w = (
        W.partitionBy(key_col)
        .orderBy(secs.asc())
        .rangeBetween(-window_seconds, 0)
    )
    return df.withColumn("rolling_n", F.count(F.lit(1)).over(w))
