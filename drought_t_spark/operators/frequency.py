"""FR1/AG5 — frequency and summary reporting (SURVEY.md §2.4).

Drought frequency = events per source per year of onset; summary stats
over non-excluded events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequency(events: DataFrame) -> DataFrame:
    return (
        events.where(~F.col("excluded"))
        .groupBy("source", F.year("onset").alias("year"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.avg("duration").alias("mean_duration"),
            F.avg("severity").alias("mean_severity"),
            F.max("severity").alias("max_severity"),
        )
    )
