"""Deterministic synthetic inputs (FIXTURES.md §F1/§F2).

Everything is a pure function of (seed, ids) via a counter-based
splitmix64 mix — NO ``np.random`` global state, no wall clock — so the
distributed generator (``sequences_df``, built with mapInPandas over
``spark.range``) and the local pandas generator (``sequences_pdf``)
produce byte-identical tables regardless of partitioning. That property
is what makes the fixtures an executable spec (SURVEY.md §5).

F1 ``raw.sequences``:
  doc_id = f"{source}/{seq:012d}"; tokens ~ uniform [0, 50257) int32;
  n_tok = 1 + min(2047, floor(-64 ln U)); source = f"src_{k:04d}" with
  Zipf(s=1.2)-skewed sequence counts (heavy sources exercise salting);
  ~5% of (source, hour-bucket) windows deleted → gap-fill fixtures.
  Derived event time: ts = 2024-01-01T00:00Z + seq * 1 minute.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

M64 = np.uint64(0xFFFFFFFFFFFFFFFF)
VOCAB = 50257


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized uint64 -> uint64."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & M64
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & M64
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & M64
    return x ^ (x >> np.uint64(31))


def _u01(x: np.ndarray) -> np.ndarray:
    """uint64 -> uniform float64 in (0,1)."""
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53) + 2.0**-54


def _key(seed: int, *parts: np.ndarray | int) -> np.ndarray:
    k = np.uint64(seed)
    out = None
    for p in parts:
        arr = np.asarray(p, dtype=np.uint64)
        out = _mix((out if out is not None else k) ^ (arr + np.uint64(0x632BE59BD9B4E019)))
    return out


# ---------------------------------------------------------------- F1 --


def source_counts(seed: int = 42, n_sources: int = 4, n_total: int = 8000) -> np.ndarray:
    """Zipf(s=1.2)-proportional sequence counts per source (sum≈n_total)."""
    k = np.arange(1, n_sources + 1, dtype=np.float64)
    w = k ** -1.2
    counts = np.maximum(1, np.floor(n_total * w / w.sum())).astype(np.int64)
    return counts


def uniform_counts(n_sources: int, n_total: int) -> np.ndarray:
    """Equal sequence counts per source (sum == n_total exactly).

    The Zipf default models corpus skew for the salting/chunking
    fixtures; a per-source-clustered (bucketed) layout is instead
    straggler-bound by the max source share, so its scaling evidence
    needs a fixture where no single source dominates a core's worth of
    work — the many-source regime of the real 10^12-row table."""
    base = n_total // n_sources
    counts = np.full(n_sources, base, dtype=np.int64)
    counts[: n_total - base * n_sources] += 1
    return counts


def _gap_mask(seed: int, src_idx: np.ndarray, seq: np.ndarray) -> np.ndarray:
    """True where the row is DELETED (falls in a seeded gap window).

    Gap windows are hour-bucket aligned (60 seqs): an hour bucket b of
    source k is dropped iff mix(seed, k, b, GAP) < 5%.
    """
    bucket = (seq // 60).astype(np.uint64)
    h = _u01(_key(seed, src_idx.astype(np.uint64) * np.uint64(1_000_003), bucket, 0x6A70))
    return h < 0.05


def rows_for_range(
    lo: int, hi: int, counts: np.ndarray, seed: int = 42
) -> pd.DataFrame:
    """Materialize F1 rows for global ids [lo, hi) — the shared core.

    Global id → (source k, seq) by cumulative counts; rows in seeded gap
    windows are dropped; tokens drawn per (id, position).
    """
    ids = np.arange(lo, hi, dtype=np.int64)
    bounds = np.concatenate([[0], np.cumsum(counts)])
    src_idx = np.searchsorted(bounds, ids, side="right") - 1
    seq = ids - bounds[src_idx]

    keep = ~_gap_mask(seed, src_idx, seq)
    ids, src_idx, seq = ids[keep], src_idx[keep], seq[keep]
    if len(ids) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype=str),
                             "tokens": pd.Series([], dtype=object),
                             "n_tok": pd.Series([], dtype=np.int32),
                             "source": pd.Series([], dtype=str)})

    u_len = _u01(_key(seed, ids.astype(np.uint64), 0x4C454E))
    n_tok = (1 + np.minimum(2047, np.floor(-64.0 * np.log(u_len)))).astype(np.int32)

    total = int(n_tok.sum())
    row_of = np.repeat(np.arange(len(ids), dtype=np.int64), n_tok)
    starts = np.concatenate([[0], np.cumsum(n_tok[:-1], dtype=np.int64)])
    pos = np.arange(total, dtype=np.int64) - starts[row_of]
    tok = (
        _key(seed, ids[row_of].astype(np.uint64) * np.uint64(0x100000001B3), pos.astype(np.uint64))
        % np.uint64(VOCAB)
    ).astype(np.int32)

    sources = np.char.add("src_", np.char.zfill(src_idx.astype(str), 4))
    doc_ids = np.char.add(np.char.add(sources, "/"), np.char.zfill(seq.astype(str), 12))
    tokens = np.split(tok, np.cumsum(n_tok[:-1]))
    return pd.DataFrame(
        {"doc_id": doc_ids, "tokens": tokens, "n_tok": n_tok, "source": sources}
    )


def sequences_pdf(seed: int = 42, n_sources: int = 4, n_total: int = 8000,
                  counts: np.ndarray | None = None) -> pd.DataFrame:
    """Whole F1 table locally (small scales / oracle)."""
    if counts is None:
        counts = source_counts(seed, n_sources, n_total)
    return rows_for_range(0, int(counts.sum()), counts, seed)


def sequences_df(spark, seed: int = 42, n_sources: int = 4, n_total: int = 8000,
                 slices: int | None = None, counts: np.ndarray | None = None):
    """Distributed F1 generator: spark.range → mapInPandas over the same
    NumPy core. Deterministic for any partitioning; no driver-side data."""
    from drought_t_spark.schemas import SEQUENCES

    if counts is None:
        counts = source_counts(seed, n_sources, n_total)
    n = int(counts.sum())
    counts_l = counts.tolist()  # small; closure-captured (broadcast-size)

    def gen(batches):
        cs = np.asarray(counts_l, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield rows_for_range(int(pdf["id"].min()), int(pdf["id"].max()) + 1, cs, seed)

    rng = spark.range(0, n, 1, slices or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema=SEQUENCES)


def zipf_tokens(n: int, s: float = 1.2, seed: int = 42) -> np.ndarray:
    """Deterministic Zipf(s)-distributed token ids (rank = token id).

    Real token streams are head-heavy, not uniform: the uniform F1
    tokens are entropy-bound near log2(VOCAB) ≈ 15.6 bits/token, which
    caps any codec at ~2.05×. This fixture gives the codec a realistic
    skewed stream (inverse-CDF over rank weights, seeded counter RNG —
    same determinism contract as F1)."""
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    w = ranks**-s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    u = _u01(_key(seed, np.arange(n, dtype=np.uint64), 0x5A4950))
    return np.searchsorted(cdf, u).astype(np.int32)


# ---------------------------------------------------------------- F2 --


def series_pdf(seed: int = 42, n_sites: int = 8,
               start: str = "2010-01-01", end: str = "2019-12-31") -> pd.DataFrame:
    """Per-site daily drought fixture series (FIXTURES.md §F2).

    site_0000 is constant (no droughts under strict <); others get a
    seasonal sine + seeded noise + multi-week depressions that guarantee
    below-threshold runs. ~3% of dates removed per site (seeded).
    """
    dates = pd.date_range(start, end, freq="D")
    doy = dates.dayofyear.to_numpy().astype(np.float64)
    n = len(dates)
    frames = []
    for k in range(n_sites):
        site = f"site_{k:04d}"
        idx = np.arange(n, dtype=np.uint64)
        if k == 0:
            val = np.full(n, 100.0)
        else:
            base = 80.0 + 10.0 * k
            noise = (_u01(_key(seed, idx, k * 7919 + 1)) - 0.5) * 8.0
            val = base + 40.0 * np.sin(2 * np.pi * doy / 365.25) + noise
            # seeded multi-week depressions: ~4 per year, 10–40 days, −20..−60
            starts = _u01(_key(seed, np.arange(40, dtype=np.uint64), k * 104729 + 2))
            lens = 10 + (_u01(_key(seed, np.arange(40, dtype=np.uint64), k * 1299709 + 3)) * 30)
            depth = 20 + (_u01(_key(seed, np.arange(40, dtype=np.uint64), k * 15485863 + 4)) * 40)
            for s, L, d in zip((starts * n).astype(int), lens.astype(int), depth):
                val[s : s + L] -= d
        drop = _u01(_key(seed, idx, k * 6700417 + 5)) < 0.03
        frames.append(
            pd.DataFrame({"site": site, "date": dates[~drop], "value": val[~drop]})
        )
    return pd.concat(frames, ignore_index=True)
