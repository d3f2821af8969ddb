"""Gap-based sessionization (batch form of the streaming session window).

The reference has no session concept, but its streaming-shaped concerns
(SURVEY §2.11) and the `events` table invite it. Batch algorithm: lag(ts)
per user → flag gaps > threshold → running sum of flags = session id.
One shuffle on the user key; both windows share the same partitioning so
Spark plans a single exchange.

The streaming twin lives in nexgap_spark.streaming.pipeline
(session_window / applyInPandasWithState).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .timeutil import as_timestamp, epoch_us


def sessionize(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Add a ``session_id`` column (1-based per user, chronological).

    ``order_tiebreak``: extra column to make ordering total when timestamps
    can collide (determinism requirement for oracle comparison).
    """
    # dtype-tolerant: accept TIMESTAMP_NTZ from any caller, not just
    # session.load_table-normalized frames
    df = as_timestamp(df, ts_col)
    order_cols = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = W.partitionBy(user_col).orderBy(*order_cols)
    gap_us = int(gap_minutes * 60_000_000)
    prev_ts = F.lag(ts_col).over(w)
    # µs precision: second-truncated diffs would misclassify gaps that land
    # within one second of the threshold.
    is_new = (
        prev_ts.isNull()
        | ((epoch_us(ts_col) - epoch_us(prev_ts)) > gap_us)
    ).cast("int")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("session_id", F.sum(is_new).over(w_run))
