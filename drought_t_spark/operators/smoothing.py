"""W1 — centered moving-average smoothing (SURVEY.md §2.5).

`rowsBetween(-k, k)` is correct ONLY because gap-fill guarantees a
dense calendar (documented invariant); `F.avg` ignores nulls, which is
exactly the NaN-aware mean the drought method wants (mean over present
buckets in the window; null if none).

Scale: one shuffle keyed by source; within a partition this is a single
sorted window pass. Heavy sources are bounded by calendar length (not
sequence count) after rollup, so window skew is capped by time span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def moving_avg(
    df: DataFrame,
    window: int,
    value_col: str = "value",
    out_col: str = "x_ma",
    order_col: str = "bucket_start",
) -> DataFrame:
    """Centered MA of width `window` (odd) over a DENSE calendar."""
    assert window % 2 == 1, "centered window must be odd"
    if window == 1:
        # identity smoothing (MA disabled in config): avg over the
        # [0, 0] frame is the row's own value with identical null
        # semantics — skip the whole window pass (one fewer
        # Exchange+Sort in every ma_window=1 DAG, e.g. runs_events)
        return df.withColumn(out_col, F.col(value_col).cast("double"))
    k = window // 2
    w = Window.partitionBy("source").orderBy(order_col).rowsBetween(-k, k)
    return df.withColumn(out_col, F.avg(value_col).over(w))
