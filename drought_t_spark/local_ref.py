"""Single-site NumPy/pandas reference implementation of the threshold-
level drought method — the executable spec (SURVEY.md §5.1).

This module plays the role of the (empty-snapshot) reference
implementation: it computes §2.10's normative formulas directly from
the published method (Yevjevich 1967; Fleig et al. 2006 §3.1–3.3) for
ONE site in plain pandas, exactly as drought_t does single-node. The
distributed pipeline must equal it row-for-row per site-partition —
that parity test is the BASELINE.json:6 fixture contract. It is also
runnable inside `applyInPandas` (PU1) to cross-check distributed vs
single-node semantics on the same cluster.

Semantics notes shared with the Spark operators:
* gap buckets reindexed as NaN; below(NaN) = False; deficit/excess of a
  NaN bucket contribute 0 (Spark `greatest(null, 0.0) = 0.0`).
* centered MA: mean of non-NaN values in the truncated window
  (pandas rolling(center=True, min_periods=1) == Spark avg rowsBetween).
* exact linear-interpolation percentile (np.percentile 'linear' ==
  Spark `percentile` == DuckDB `quantile_cont`).
* pooling: chain-merge passes to fixed point with pre-pass severities —
  identical rule to operators/pooling.py (normative). That module runs
  runs → pooling → exclusion as one per-source NumPy kernel inside the
  batch DAG; this file stays a separate, deliberately plain pandas
  implementation so the parity tests compare two independent codings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from drought_t_spark.config import EngineConfig, DEFAULT

_FREQ = {"hour": "h", "day": "D", "month": "MS"}


def _cycle_pos(idx: pd.DatetimeIndex, tier: str) -> np.ndarray:
    if tier == "day":
        return idx.dayofyear.to_numpy()
    if tier == "month":
        return idx.month.to_numpy()
    raise ValueError(tier)


def cycle_pos_like_spark(idx: pd.DatetimeIndex, tier: str) -> np.ndarray:
    """Match functions/scalars.cycle_pos: Spark dayofweek is 1=Sunday."""
    if tier == "hour":
        spark_dow = (idx.dayofweek.to_numpy() + 1) % 7 + 1  # Mon=2 ... Sun=1
        return (spark_dow - 1) * 24 + idx.hour.to_numpy()
    return _cycle_pos(idx, tier)


def run_site(
    pdf: pd.DataFrame,
    tier: str = "day",
    cfg: EngineConfig = DEFAULT,
    ts_col: str = "bucket_start",
    value_col: str = "value",
) -> pd.DataFrame:
    """Full method for one site. Input: observed (ts, value) rows.
    Output: FIXTURES.md §F3 event table (without the site column)."""
    s = pdf.sort_values(ts_col).set_index(ts_col)[value_col]
    s.index = pd.DatetimeIndex(s.index)
    idx = pd.date_range(s.index.min(), s.index.max(), freq=_FREQ[tier])
    x = s.reindex(idx).to_numpy(dtype=np.float64)

    # W1 centered MA, NaN-aware
    x_ma = (
        pd.Series(x, index=idx)
        .rolling(cfg.ma_window, center=True, min_periods=1)
        .mean()
        .to_numpy()
    )

    # TH1/TH2 threshold
    if cfg.threshold_mode == "variable":
        cp = cycle_pos_like_spark(idx, tier)
        x0 = np.full(len(idx), np.nan)
        dfp = pd.DataFrame({"cp": cp, "v": x_ma})
        per = dfp.dropna().groupby("cp")["v"].apply(
            lambda v: float(np.percentile(v.to_numpy(), cfg.threshold_pct * 100.0, method="linear"))
        )
        x0 = per.reindex(cp).to_numpy()
    else:
        valid = x_ma[~np.isnan(x_ma)]
        lvl = float(np.percentile(valid, cfg.threshold_pct * 100.0, method="linear")) if len(valid) else np.nan
        x0 = np.full(len(idx), lvl)

    below = np.where(np.isnan(x_ma) | np.isnan(x0), False, x_ma < x0)
    deficit = np.nan_to_num(np.maximum(x0 - x_ma, 0.0), nan=0.0)
    excess = np.nan_to_num(np.maximum(x_ma - x0, 0.0), nan=0.0)

    # RL2 run segmentation over the full alternating sequence
    b = below.astype(np.int8)
    chg = np.ones(len(b), np.int64)
    chg[1:] = (b[1:] != b[:-1]).astype(np.int64)
    run_id = np.cumsum(chg)

    rows = []
    for rid in np.unique(run_id):
        m = run_id == rid
        rows.append(
            dict(
                run_id=int(rid),
                below=int(b[m][0]),
                onset=idx[m][0],
                termination=idx[m][-1],
                duration=int(m.sum()),
                severity=float(deficit[m].sum()),
                peak=float(deficit[m].max()),
                excess=float(excess[m].sum()),
            )
        )
    runs = pd.DataFrame(rows)
    ev = runs[runs.below == 1].reset_index(drop=True)
    if len(ev) == 0:
        return pd.DataFrame(
            columns=["event_id", "onset", "termination", "duration",
                     "severity", "intensity", "peak", "pooled", "excluded"]
        )
    gaps = runs[runs.below == 0].set_index("run_id")
    ev["gap_t"] = [
        float(gaps.loc[r + 1, "duration"]) if (r + 1 in gaps.index and i < len(ev) - 1) else np.nan
        for i, r in enumerate(ev.run_id)
    ]
    ev["gap_v"] = [
        float(gaps.loc[r + 1, "excess"]) if (r + 1 in gaps.index and i < len(ev) - 1) else np.nan
        for i, r in enumerate(ev.run_id)
    ]
    ev["pooled"] = False

    # PL1 fixed-point chain pooling (normative rule)
    if cfg.pooling == "ic":
        while True:
            n0 = len(ev)
            join_prev = np.zeros(n0, bool)
            for i in range(1, n0):
                gt, gv = ev.gap_t.iloc[i - 1], ev.gap_v.iloc[i - 1]
                if not np.isnan(gt) and gt <= cfg.pool_tc and gv <= cfg.pool_pc * ev.severity.iloc[i - 1]:
                    join_prev[i] = True
            if not join_prev.any():
                break
            chain = np.cumsum(~join_prev)
            out = []
            for c in np.unique(chain):
                g = ev[chain == c]
                internal_t = g.gap_t.iloc[:-1].sum()
                internal_v = g.gap_v.iloc[:-1].sum()
                out.append(
                    dict(
                        onset=g.onset.iloc[0],
                        termination=g.termination.iloc[-1],
                        duration=int(g.duration.sum() + (0 if np.isnan(internal_t) else internal_t)),
                        severity=float(g.severity.sum() - (0 if np.isnan(internal_v) else internal_v)),
                        peak=float(g.peak.max()),
                        gap_t=g.gap_t.iloc[-1],
                        gap_v=g.gap_v.iloc[-1],
                        pooled=bool(g.pooled.max() or len(g) > 1),
                    )
                )
            ev = pd.DataFrame(out)
            if len(ev) == n0:
                break

    ev = ev.sort_values("onset").reset_index(drop=True)
    ev["event_id"] = np.arange(1, len(ev) + 1, dtype=np.int64)
    ev["intensity"] = ev.severity / ev.duration

    # EX1 minor exclusion
    if cfg.min_severity_abs is not None:
        s_min = float(cfg.min_severity_abs)
    else:
        s_min = cfg.min_severity_frac * float(ev.severity.max())
    ev["excluded"] = (ev.duration < cfg.min_duration) | (ev.severity < s_min)
    return ev[["event_id", "onset", "termination", "duration", "severity",
               "intensity", "peak", "pooled", "excluded"]]
