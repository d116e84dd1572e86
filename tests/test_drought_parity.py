"""Per-site parity: distributed pipeline == single-node reference
implementation, row-for-row (BASELINE.json:6 fixture contract;
SURVEY.md §5.1). Also a tiny hand-computed run-extraction check.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from drought_t_spark import local_ref, synth
from drought_t_spark.config import EngineConfig
from drought_t_spark.plans.drought import drought_events_for_tier, series_to_tier


@pytest.fixture(scope="module")
def series(spark):
    pdf = synth.series_pdf()
    df = spark.createDataFrame(pdf)
    return pdf, series_to_tier(df, ts_col="date")


def _compare(spark_pdf: pd.DataFrame, ref: pd.DataFrame, site: str):
    got = spark_pdf.sort_values("event_id").reset_index(drop=True)
    want = ref.sort_values("event_id").reset_index(drop=True)
    assert len(got) == len(want), f"{site}: {len(got)} events vs oracle {len(want)}"
    if len(want) == 0:
        return
    pd.testing.assert_series_equal(
        got.onset.astype("datetime64[us]"), want.onset.astype("datetime64[us]"),
        check_names=False, obj=f"{site}.onset")
    pd.testing.assert_series_equal(
        got.termination.astype("datetime64[us]"), want.termination.astype("datetime64[us]"),
        check_names=False, obj=f"{site}.termination")
    np.testing.assert_array_equal(got.duration.to_numpy(), want.duration.to_numpy(), err_msg=site)
    np.testing.assert_allclose(got.severity, want.severity, rtol=1e-9, err_msg=site)
    np.testing.assert_allclose(got.intensity, want.intensity, rtol=1e-9, err_msg=site)
    np.testing.assert_allclose(got.peak, want.peak, rtol=1e-9, err_msg=site)
    np.testing.assert_array_equal(got.pooled.to_numpy(), want.pooled.to_numpy(), err_msg=site)
    np.testing.assert_array_equal(got.excluded.to_numpy(), want.excluded.to_numpy(), err_msg=site)


@pytest.mark.parametrize("cfg", [
    EngineConfig(),                                            # fixture defaults
    EngineConfig(threshold_mode="fixed", pooling="none"),      # TH2, unpooled
    EngineConfig(ma_window=1, pool_tc=10, pool_pc=0.5),        # aggressive pooling
], ids=["default", "fixed-unpooled", "heavy-pool"])
def test_site_partition_parity(spark, series, cfg):
    pdf, tier_df = series
    events = drought_events_for_tier(tier_df, "day", cfg).toPandas()
    for site, g in pdf.groupby("site"):
        ref = local_ref.run_site(
            g.rename(columns={"date": "bucket_start"}), tier="day", cfg=cfg
        )
        _compare(events[events.source == site], ref, site)


def test_constant_site_has_no_events(spark, series):
    _, tier_df = series
    events = drought_events_for_tier(tier_df, "day", EngineConfig()).toPandas()
    # strict '<' ⇒ a constant series never dips below its own percentile
    assert len(events[events.source == "site_0000"]) == 0


def test_hand_computed_runs(spark):
    # values [5,1,1,5,5,1,5]: fixed P50 threshold = 5 → two runs:
    # len-2 severity 8, len-1 severity 4 (Yevjevich run sums by hand)
    pdf = pd.DataFrame({
        "site": "s",
        "date": pd.date_range("2024-01-01", periods=7, freq="D"),
        "value": [5.0, 1.0, 1.0, 5.0, 5.0, 1.0, 5.0],
    })
    cfg = EngineConfig(ma_window=1, threshold_mode="fixed", pooling="none",
                       min_duration=1, min_severity_abs=0.0)
    ev = (
        drought_events_for_tier(series_to_tier(spark.createDataFrame(pdf), ts_col="date"), "day", cfg)
        .orderBy("event_id").toPandas()
    )
    assert list(ev.duration) == [2, 1]
    assert list(ev.severity) == [8.0, 4.0]
    assert list(ev.peak) == [4.0, 4.0]
    assert ev.onset.iloc[0] == pd.Timestamp("2024-01-02")
    assert ev.termination.iloc[0] == pd.Timestamp("2024-01-03")


def test_pooling_merges_close_events(spark):
    # two severe dips separated by a 2-bucket weak excess gap: with
    # t_c=5, p_c=0.5 they pool into one event with d = d1+t+d2
    vals = [10.0] * 10 + [1.0] * 4 + [10.2, 10.2] + [1.0] * 4 + [10.0] * 10
    pdf = pd.DataFrame({
        "site": "s",
        "date": pd.date_range("2024-01-01", periods=len(vals), freq="D"),
        "value": vals,
    })
    cfg = EngineConfig(ma_window=1, threshold_mode="fixed", threshold_pct=0.5,
                       pooling="ic", pool_tc=5, pool_pc=0.5,
                       min_duration=1, min_severity_abs=0.0)
    ev = (
        drought_events_for_tier(series_to_tier(spark.createDataFrame(pdf), ts_col="date"), "day", cfg)
        .orderBy("event_id").toPandas()
    )
    ref = local_ref.run_site(pdf.rename(columns={"date": "bucket_start"}), "day", cfg)
    assert len(ev) == len(ref) == 1
    assert bool(ev.pooled.iloc[0])
    assert int(ev.duration.iloc[0]) == 10  # 4 + 2 + 4
    np.testing.assert_allclose(ev.severity.iloc[0], ref.severity.iloc[0], rtol=1e-12)


def test_pooling_reaches_fixed_point_past_64_passes(spark):
    # P50 = 10: one deep dip (deficit 100), then 69 shallow dips (deficit
    # 5) behind 1-day gaps of excess 5. Only the deep event pools its
    # right neighbour (5 ≤ 0.1·100, but not 5 ≤ 0.1·5), so each pass
    # absorbs exactly one more dip: the fixed point is 69 passes away.
    vals = [10.0] * 200 + [-90.0] + [15.0, 5.0] * 69
    pdf = pd.DataFrame({
        "site": "s",
        "date": pd.date_range("2024-01-01", periods=len(vals), freq="D"),
        "value": vals,
    })
    cfg = EngineConfig(ma_window=1, threshold_mode="fixed", min_duration=1,
                       min_severity_abs=0.0)
    ev = drought_events_for_tier(
        series_to_tier(spark.createDataFrame(pdf), ts_col="date"), "day", cfg
    ).toPandas()
    ref = local_ref.run_site(pdf.rename(columns={"date": "bucket_start"}), "day", cfg)
    assert len(ref) == 1
    assert int(ref.duration.iloc[0]) == 139 and float(ref.severity.iloc[0]) == 100.0
    assert bool(ref.pooled.iloc[0])
    _compare(ev, ref, "s")


def test_job_count_does_not_depend_on_pooling_depth(spark, series):
    _, tier_df = series
    sc = spark.sparkContext
    jobs = {}
    for name, cfg in [("default", EngineConfig()),
                      ("heavy-pool", EngineConfig(ma_window=1, pool_tc=10, pool_pc=0.5))]:
        group = f"test-drought-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            drought_events_for_tier(tier_df, "day", cfg).toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["default"] <= 8, jobs
    assert jobs["default"] == jobs["heavy-pool"], jobs
