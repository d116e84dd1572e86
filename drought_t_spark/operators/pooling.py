"""RL1/RL2/EV1 → PL1 → EX1 — the drought method after the threshold
join, as one per-source kernel (SURVEY.md §2.10; Yevjevich 1967; Fleig
et al. 2006 §3.2–3.3).

Normative semantics (local_ref.run_site implements the SAME rules as
the independent single-site oracle):

  runs: maximal constant-`below` stretches, below = x_ma < x0 strict,
    null → false; an event is a below-run with severity Σ deficit and
    peak max deficit; its gap (gap_t, gap_v) is the length and Σ excess
    of the above-run that follows it, null for the last event.
  pooling, repeat until no merge:
    for consecutive events (i, i+1) within a source (onset order):
      mergeable(i) ⇔ gap_t(i) ≤ t_c  AND  gap_v(i) ≤ p_c · s_i
      (s_i = CURRENT severity of the left event, i.e. pre-pass value)
    merge maximal chains of mergeable pairs in one pass:
      onset = onset_first, termination = term_last,
      duration = Σ d_members + Σ internal gap_t   (= d_i + t_i + d_{i+1})
      severity = Σ s_members − Σ internal gap_v   (= s_i + s_{i+1} − v_i)
  exclusion: excluded ⇔ duration < d_min OR severity < s_min, with s_min
    absolute or α · max severity of the source.

Every rule reads one source's event list, so the whole tail of the DAG
is ONE `groupBy("source").applyInPandas` stage: the Python boundary is
crossed once per source, and the fixed point is a loop inside the
kernel. It needs no pass limit — every merging pass shrinks the list,
so at most n − 1 passes merge. Sums fold left to right in time order,
the order Spark's F.sum adds the same terms in over a sorted partition
(and the streaming fold's order), so severities are bit-equal to the
Spark window operators in operators/runs.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from drought_t_spark.config import EngineConfig, DEFAULT
from drought_t_spark.operators.runs import run_segments

EVENTS_SCHEMA = (
    "source string, event_id long not null, onset timestamp, termination timestamp, "
    "duration long, severity double, intensity double, peak double, "
    "pooled boolean, excluded boolean"
)
_COLUMNS = [f.split()[0] for f in EVENTS_SCHEMA.split(", ")]


def _fold(x: np.ndarray) -> float:
    """Left-to-right sum (np.sum's pairwise tree would change the bits)."""
    return float(np.cumsum(x)[-1])


def site_events(pdf: pd.DataFrame, cfg: EngineConfig = DEFAULT) -> pd.DataFrame:
    """One source's (source, bucket_start, x_ma, x0) rows → its final
    event table: runs, IC pooling to the fixed point, ids, intensity,
    exclusion."""
    pdf = pdf.sort_values("bucket_start", kind="mergesort")
    ts = pdf["bucket_start"].to_numpy()
    b, d, e, starts, ends = run_segments(
        pdf["x_ma"].to_numpy(dtype=np.float64), pdf["x0"].to_numpy(dtype=np.float64)
    )
    ev = np.flatnonzero(b[starts] == 1)
    if len(ev) == 0:
        return pd.DataFrame(columns=_COLUMNS)
    s0, s1 = starts[ev], ends[ev]
    onset, term = ts[s0], ts[s1 - 1]
    dur = s1 - s0
    sev = np.array([_fold(d[a:z]) for a, z in zip(s0, s1)])
    peak = np.maximum.reduceat(d, starts)[ev]
    # inter-event gap = the above-run after each event but the last
    g = ev[:-1] + 1
    gap_t = np.append(ends[g] - starts[g], -1)  # -1: no gap (never ≤ t_c)
    gap_v = np.append([_fold(e[starts[k]:ends[k]]) for k in g], np.nan)
    pooled = np.zeros(len(ev), bool)

    while cfg.pooling == "ic":
        join_prev = np.zeros(len(sev), bool)
        join_prev[1:] = (
            (gap_t[:-1] >= 0)
            & (gap_t[:-1] <= cfg.pool_tc)
            & (gap_v[:-1] <= cfg.pool_pc * sev[:-1])
        )
        if not join_prev.any():
            break
        inner = np.append(join_prev[1:], False)  # member with a successor in its chain
        head = np.flatnonzero(~join_prev)
        last = np.append(head[1:], len(sev)) - 1
        merged = sev[head]
        for k in np.flatnonzero(last > head):
            h, z = head[k], last[k]
            merged[k] = _fold(sev[h:z + 1]) - _fold(gap_v[h:z])
        onset, term = onset[head], term[last]
        dur = np.add.reduceat(dur + np.where(inner, gap_t, 0), head)
        sev = merged
        peak = np.maximum.reduceat(peak, head)
        gap_t, gap_v = gap_t[last], gap_v[last]
        pooled = np.logical_or.reduceat(pooled | join_prev | inner, head)

    if cfg.min_severity_abs is not None:
        s_min = float(cfg.min_severity_abs)
    else:
        s_min = cfg.min_severity_frac * sev.max()
    return pd.DataFrame({
        "source": pdf["source"].iloc[0],
        "event_id": np.arange(1, len(sev) + 1, dtype=np.int64),
        "onset": onset,
        "termination": term,
        "duration": dur.astype(np.int64),
        "severity": sev,
        "intensity": sev / dur,
        "peak": peak,
        "pooled": pooled,
        "excluded": (dur < cfg.min_duration) | (sev < s_min),
    })


def pool_events(joined: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Threshold-joined series (source, bucket_start, x_ma, x0, …) →
    final event table (EVENTS_SCHEMA), one grouped-map stage."""

    def events(pdf: pd.DataFrame) -> pd.DataFrame:
        return site_events(pdf, cfg)

    return (
        joined.select("source", "bucket_start", "x_ma", "x0")
        .groupBy("source")
        .applyInPandas(events, EVENTS_SCHEMA)
    )
