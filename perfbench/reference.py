"""Independent references the workload outputs are checked against.

`RawTokens` reads the raw T0 token table with pyarrow (no Spark, no
engine code) and answers what each engine read must return: the token
stream of a source over a time range, and the exact per-(source, hour)
counts and sums. Event time is the T0 contract: 2024-01-01T00:00 plus
`seq` minutes, `seq` parsed from `doc_id = "<source>/<seq>"`.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

import numpy as np
import pandas as pd

EPOCH = datetime(2024, 1, 1)


class RawTokens:
    def __init__(self, path: str):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["doc_id", "tokens", "source"])
        doc = t.column("doc_id").to_pylist()
        src = np.asarray(t.column("source").to_pylist())
        seq = np.fromiter((int(d.rsplit("/", 1)[1]) for d in doc), np.int64, len(doc))
        toks = t.column("tokens")
        flat = pc.list_flatten(toks).to_numpy().astype(np.int32)
        lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
        offs = np.concatenate([[0], np.cumsum(lens)])
        self.total_tokens = int(lens.sum())
        self.parquet_bytes = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet"))
        )
        self._seq: dict[str, np.ndarray] = {}
        self._off: dict[str, np.ndarray] = {}
        self._tok: dict[str, np.ndarray] = {}
        hourly = []
        for s in np.unique(src):
            rows = np.flatnonzero(src == s)
            rows = rows[np.argsort(seq[rows], kind="stable")]
            self._seq[s] = seq[rows]
            self._off[s] = np.concatenate([[0], np.cumsum(lens[rows])])
            self._tok[s] = np.concatenate([flat[offs[r]:offs[r + 1]] for r in rows])
            hours, first = np.unique(seq[rows] // 60, return_index=True)
            tok_sum = np.add.reduceat(lens[rows], first)
            n_seq = np.diff(np.append(first, len(rows)))
            hourly.append(pd.DataFrame({"source": s, "hour": hours,
                                        "n_seq": n_seq, "n_tok_sum": tok_sum}))
        self.hourly = pd.concat(hourly, ignore_index=True)
        self.sources = sorted(self._seq)
        #: hours from the epoch to the end of the longest source
        self.span_hours = int(self.hourly.hour.max()) + 1

    def tokens(self, source: str, lo_h: int | None = None, hi_h: int | None = None) -> np.ndarray:
        """Raw token stream of `source` for event hours [lo_h, hi_h)."""
        seq, off = self._seq[source], self._off[source]
        i0 = 0 if lo_h is None else int(np.searchsorted(seq, lo_h * 60))
        i1 = len(seq) if hi_h is None else int(np.searchsorted(seq, hi_h * 60))
        return self._tok[source][off[i0]:off[i1]]

    def hours(self, lo_h: int, hi_h: int) -> pd.DataFrame:
        h = self.hourly
        return h[(h.hour >= lo_h) & (h.hour < hi_h)]

    def range_sums(self, lo_h: int, hi_h: int) -> dict[str, tuple[int, int]]:
        """Per source (n_seq, n_tok_sum) over event hours [lo_h, hi_h)."""
        g = self.hours(lo_h, hi_h).groupby("source")[["n_seq", "n_tok_sum"]].sum()
        return {s: (int(r.n_seq), int(r.n_tok_sum)) for s, r in g.iterrows()}


def compare_events(got: pd.DataFrame, want: pd.DataFrame, site: str,
                   scale: float) -> str | None:
    """None when a site's Spark events equal the single-site reference,
    else why not. Dates and integer fields must be exact. Floats must agree
    to 1e-9 relative or to the rounding both sides may differ by: Spark and
    pandas sum the moving-average window in different orders, and a
    deficit x0 - x_ma near the threshold cancels to a few ulps of the
    series' magnitude `scale` per bucket (64 ulps allowed per bucket)."""
    got = got.sort_values("event_id").reset_index(drop=True)
    want = want.sort_values("event_id").reset_index(drop=True)
    if len(got) != len(want):
        return f"{site}: {len(got)} events, reference {len(want)}"
    if not len(want):
        return None
    for col in ("onset", "termination"):
        a = got[col].astype("datetime64[us]").to_numpy()
        b = want[col].astype("datetime64[us]").to_numpy()
        if not np.array_equal(a, b):
            return f"{site}: {col} differs"
    for col in ("duration", "pooled", "excluded"):
        if not np.array_equal(got[col].to_numpy(), want[col].to_numpy()):
            return f"{site}: {col} differs"
    ulps = 64 * np.finfo(np.float64).eps * scale
    dur = want.duration.to_numpy(float)
    for col, atol in (("severity", ulps * dur), ("intensity", ulps), ("peak", ulps)):
        a, b = got[col].to_numpy(float), want[col].to_numpy(float)
        if not np.all(np.abs(a - b) <= np.maximum(1e-9 * np.abs(b), atol)):
            return f"{site}: {col} differs"
    return None
