"""Deduplication operators for training-data pipelines.

All hot paths are JVM-side Catalyst expressions (higher-order array
functions + xxhash64) — no Python UDFs anywhere:

* exact dedup — hash-groupBy with a deterministic keeper (min doc id);
* MinHash + LSH — char-shingles → per-seed min of xxhash64 → banded
  signature → bucket join → candidate pairs → exact Jaccard verify;
* SimHash — 64-bit sign-aggregated word-hash fingerprint;
* n-gram Jaccard — exact similarity on candidate pairs.

Scale: LSH banding turns the O(n²) pair problem into groupBys on band
keys; the verify join touches only bucket-colliding pairs. Band keys
are integers (xxhash64), so the shuffle is cheap; skewed buckets (giant
near-dup clusters) are bounded by `max_bucket` pair capping.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Groups of identical `key_cols`; keeper = min(id) (deterministic,
    unlike dropDuplicates). Output: one row per group with n_copies."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keeper"), F.count("*").cast("long").alias("n_copies")
    )


def shingles(text_col: str, k: int = 3):
    """Character k-shingle array (JVM-side, distinct)."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
            f" i -> substring({text_col}, i, {k}))"
        )
    )


def minhash_signatures_arrow(
    base: DataFrame, k: int = 3, n_hashes: int = 32, seed: int = 7
) -> DataFrame:
    """(id, text) → (id, sig: array<bigint>) — MinHash signatures as one
    vectorized Arrow kernel per record batch.

    Differs from the Catalyst HOF path ONLY in the hash family (UTF-8
    byte k-grams → splitmix64 → n_hashes odd-multiplier permutations of
    Z_2^64, vs char shingles → seeded xxhash64). Both are uniform
    MinHash families; the funnel's exact-Jaccard verify stage pins the
    OUTPUT pairs, so the engines are interchangeable wherever stage-1
    recall holds (gated by the planted-twin tests + the driver oracle).

    Vectorization: the batch's text is one concatenated uint8 buffer;
    k-grams are k shifted ORs over it, splitmix64 mixes them in one
    pass, and each permutation is a multiply-add + minimum.reduceat at
    per-doc gram boundaries. MinHash is duplicate-insensitive (min of a
    multiset == min of its set), so no distinct step is needed. Only
    docs shorter than k bytes fall back to a per-doc loop.
    """
    assert 1 <= k <= 8, "gram packs into one uint64"
    rng = np.random.default_rng(seed)
    A = (rng.integers(0, 2**62, n_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, n_hashes, dtype=np.uint64)
    id_t = dict(zip(base.schema.names, (f.dataType.simpleString() for f in base.schema)))["id"]

    def _mix(x: np.ndarray) -> np.ndarray:
        # splitmix64 finalizer (public-domain constant mixer)
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            # r6: zero-copy string path. Arrow strings are already UTF-8,
            # so after fill_null the large_binary cast's data buffer IS
            # the per-doc concatenation the kernel needs — no to_pylist,
            # no per-doc encode()/join() Python loop (the last row-wise
            # work in this kernel, flagged by the r5 review).
            col = pc.cast(pc.fill_null(rb.column(1), ""), pa.large_binary())
            vbufs = col.buffers()
            offs = np.frombuffer(vbufs[1], np.int64, n + 1, 8 * col.offset)
            nbytes = int(offs[-1] - offs[0])
            buf = (
                np.frombuffer(vbufs[2], np.uint8, nbytes, int(offs[0]))
                if vbufs[2] is not None and nbytes
                else np.zeros(0, np.uint8)
            )
            lens = np.diff(offs)
            starts = (offs[:-1] - offs[0]).astype(np.int64)
            m = len(buf)
            ng = max(m - k + 1, 0)
            g = np.zeros(ng, np.uint64)
            for j in range(k):
                g |= buf[j : ng + j].astype(np.uint64) << np.uint64(8 * j)
            h = _mix(g)
            valid = np.maximum(lens - k + 1, 0)
            good = valid > 0
            sig = np.empty((n, n_hashes), np.uint64)
            if good.any():
                # compact the boundary-crossing grams away once (ragged-
                # arange over the ≤ k-1 bad positions per doc end, all
                # vectorized); every permutation then reduces over
                # contiguous segments
                ends = starts + lens
                bad0 = np.maximum(ends - (k - 1), starts)
                cnt = (ends - bad0).astype(np.int64)
                tot = int(cnt.sum())
                bad = (
                    np.repeat(bad0, cnt)
                    + np.arange(tot, dtype=np.int64)
                    - np.repeat(np.cumsum(cnt) - cnt, cnt)
                )
                ok = np.ones(ng, bool)
                ok[bad[bad < ng]] = False
                vidx = np.flatnonzero(ok)
                hv = h[vidx]
                cuts = np.zeros(int(good.sum()), np.int64)
                np.cumsum(valid[good][:-1], out=cuts[1:])
                for i in range(n_hashes):
                    sig[good, i] = np.minimum.reduceat(A[i] * hv + B[i], cuts)
            for d in np.nonzero(~good)[0]:
                # Spark-path parity: a doc shorter than k yields ONE
                # (truncated) shingle — here one short-packed gram
                gsh = np.uint64(0)
                for j, bb in enumerate(buf[starts[d] : starts[d] + lens[d]]):
                    gsh |= np.uint64(bb) << np.uint64(8 * j)
                sig[d, :] = A * _mix(np.array([gsh], np.uint64))[0] + B
            offs = pa.array(np.arange(0, (n + 1) * n_hashes, n_hashes, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [rb.column(0),
                 pa.ListArray.from_arrays(offs, pa.array(sig.reshape(-1).view(np.int64)))],
                ["id", "sig"],
            )

    return base.select("id", "text").mapInArrow(kernel, f"id {id_t}, sig array<bigint>")


def auto_bands(n_hashes: int, threshold: float, target_recall: float = 0.85) -> int:
    """Smallest band count (= tightest selectivity) whose expected
    recall 1-(1-t^r)^b at the threshold still meets target_recall.
    Looser banding than needed floods the verify stage with candidate
    pairs — at sf0.1 the difference is 1.5M candidates vs ~10k."""
    divisors = [b for b in range(1, n_hashes + 1) if n_hashes % b == 0]
    for b in divisors:
        r = n_hashes // b
        if 1 - (1 - threshold**r) ** b >= target_recall:
            return b
    return n_hashes  # loosest legal banding: r=1 (always divides)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 32,
    bands: int | None = None,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 256,
    materialize=None,
    counters: dict | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH: banding tuned to the
    threshold, signature-estimate prefilter, exact Jaccard verify.
    Returns (id_a, id_b, jaccard).

    Three-stage funnel, each stage orders of magnitude cheaper per
    survivor than the next:
      1. band-bucket join on (band, bkey) ints — candidates only;
      2. signature estimate (32-int comparison) kills candidates far
         below the threshold BEFORE the wide shingle arrays are joined;
      3. exact Jaccard on shingle sets for the survivors.
    `max_bucket` drops degenerate band buckets (> max_bucket members,
    i.e. >max_bucket²/2 pairs): giant clusters are boilerplate already
    caught by exact dedup, and the cap bounds the worst skewed reducer.
    The signature table is materialized — it is reused by both
    self-join sides and both estimate joins. `materialize=None`
    (default) uses localCheckpoint(eager): unlike persist() the blocks
    are ContextCleaner-collected once the result is dropped, BUT it
    computes at call time and ties the result to executor liveness —
    pass `lambda df: df` for lazy, or a write-table callback at
    production scale."""
    if materialize is None:
        materialize = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    if bands is None:
        bands = auto_bands(n_hashes, jaccard_threshold)
    rows_per_band = n_hashes // bands
    assert rows_per_band * bands == n_hashes
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    sh_expr = (
        f"array_distinct(transform(sequence(1, greatest(length(text) - {k - 1}, 1)),"
        f" i -> substring(text, i, {k})))"
    )
    if engine == "arrow":
        # vectorized NumPy kernel: measured 4-8x the HOF path's docs/s at
        # 1M docs (BENCH/BASELINE.md r5 A/B); HOF kept as the
        # dependency-free fallback and A/B control
        sig_tbl = materialize(
            minhash_signatures_arrow(base, k=k, n_hashes=n_hashes)
        )
    else:
        # let-bind the shingle set so it is built once per row, not once
        # per hash seed (the seed transform's lambda body would
        # otherwise inline it)
        sig_tbl = materialize(
            base.select(
                "id",
                F.expr(
                    f"transform(array({sh_expr}), sh -> transform(sequence(0, {n_hashes - 1}),"
                    f" i -> array_min(transform(sh, s -> xxhash64(s, i)))))[0]"
                ).alias("sig"),
            )
        )
    # Band rows carry ONLY (id, band, bkey) — never shingle arrays.
    # The band shuffle is then 3 scalar columns wide; wide arrays rejoin
    # only for surviving pairs. At 100TB this is the difference between
    # shuffling bytes and shuffling documents.
    banded = sig_tbl.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> xxhash64(slice(sig, b * {rows_per_band} + 1, {rows_per_band})))"
            )
        ).alias("band", "bkey"),
    )
    sz = Window.partitionBy("band", "bkey")
    banded = banded.withColumn("bsz", F.count("*").over(sz)).where(
        F.col("bsz") <= max_bucket
    ).drop("bsz")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bkey"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if counters is not None:
        # bench/diagnostic knob: materialize the candidate set and record
        # the funnel's stage-1 selectivity; downstream reuses the
        # checkpoint, so the band join still runs once. Zero cost when off.
        cand = materialize(cand)
        counters["stage1_band_candidates"] = cand.count()
    # stage 2: signature-estimate prefilter (3σ + slack below threshold)
    import math

    sigma = math.sqrt(jaccard_threshold * (1 - jaccard_threshold) / n_hashes)
    est_cut = max(0.0, jaccard_threshold - 3 * sigma - 0.05)
    est = (
        cand.join(sig_tbl.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sig_tbl.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .withColumn(
            "est_j",
            F.expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
                   f" 0, (s, v) -> s + v) / {n_hashes}"),
        )
        .where(F.col("est_j") >= est_cut)
        .select("id_a", "id_b")
    )
    if counters is not None:
        est = materialize(est)
        counters["stage2_estimate_survivors"] = est.count()
    # stage 3: exact Jaccard on the shingle sets of the survivors.
    # NOTE (r6): three variants of restricting the shingle build to
    # surviving docs were measured (semi-join filter with est
    # materialized / est lazy, and join-then-shingle): every one LOST —
    # +0.5 s at the bench shape from the extra stages or checkpoint, a
    # 3×-duplicated shingle expression from predicate pushdown in the
    # join-then-shingle form, and no measurable end-to-end win at 1M
    # docs (13.4 vs 13.6 kdocs/s — the funnel is bound by the band and
    # estimate joins, not the shingle projection). Shingles also stay
    # BELOW the verify join so the jaccard threshold cannot be pushed
    # into (and duplicate) the shingle HOF.
    sh_tbl = base.select("id", shingles("text", k).alias("sh"))
    jac = (
        est.join(sh_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return jac.where(F.col("jaccard") >= jaccard_threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace words: bit b of the fingerprint is
    1 iff Σ_words (±1 per word-hash bit b) > 0. ONE aggregate per doc —
    the bit-vector fold runs once and the `finish` lambda packs it to an
    int64 (embedding the fold inside a per-bit expression would
    re-evaluate it 64× per row). O(words · 64) JVM work, zero Python."""
    words = f"filter(split({text_col}, ' +'), w -> w <> '')"
    bits = (
        "aggregate("
        f"  transform({words}, w -> xxhash64(w)),"
        "  array_repeat(0L, 64),"
        "  (acc, h) -> zip_with(acc, sequence(0, 63),"
        "      (c, b) -> c + IF((shiftright(h, b) & 1) = 1, 1L, -1L)),"
        "  acc -> aggregate(zip_with(acc, sequence(0, 63),"
        "      (c, b) -> IF(c > 0, shiftleft(1L, b), 0L)), 0L, (x, y) -> x | y))"
    )
    return df.select(
        F.col(id_col).alias("id"), F.expr(bits).alias("simhash64")
    )


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on (max_hamming + 1) bit-range
    sub-keys — pigeonhole: ≤ max_hamming flips across max_hamming + 1
    blocks leave ≥ 1 block identical, so recall over the fingerprints is
    exactly 1 by construction for ANY legal max_hamming (the old fixed
    4×16-bit scheme silently under-recalled past hamming 3). Candidate
    pairs are verified on full 64-bit hamming distance."""
    if not 0 <= max_hamming <= 31:
        # n_blocks = max_hamming + 1 must leave ≥ 2-bit blocks, or the
        # keys stop selecting anything (1-bit keys bucket half the data)
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}")
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    blocks = []
    for i in range(n_blocks):
        lo = i * width
        w = 64 - lo if i == n_blocks - 1 else width  # last block takes the tail
        key = (
            F.col("simhash64") if w == 64
            else F.shiftrightunsigned("simhash64", lo).bitwiseAND(F.lit((1 << w) - 1))
        )
        blocks.append(F.struct(F.lit(i).alias("blk"), key.alias("bkey")))
    sh = simhash(df, id_col, text_col)
    blocked = sh.select(
        "id", "simhash64", F.explode(F.array(*blocks)).alias("b")
    ).select("id", "simhash64", "b.blk", "b.bkey")
    cand = (
        blocked.alias("a")
        .join(blocked.alias("b"), ["blk", "bkey"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash64").bitwiseXOR(F.col("b.simhash64"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.where(F.col("hamming") <= max_hamming)


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 144,
    n_bands: int = 6,
    seed: int = 42,
    max_bucket: int = 200,
    materialize=None,
    counters: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-dups: BANDED random-hyperplane LSH (the
    MinHash OR-of-ANDs amplification lifted to sign bits), exact cosine
    verify on colliding pairs.

    A single n_planes-bit bucket requires ALL sign bits to agree — at
    threshold 0.95 a true pair flips a marginal hyperplane with high
    probability, so recall collapses as n_planes grows. Banding the
    planes (n_bands keys of n_planes/n_bands bits; a pair is a candidate
    if ANY band matches) keeps per-band selectivity while recall ≈
    1-(1-(1-θ/π)^w)^b. Band rows carry only (id, band, bkey): the
    shuffle is 3 scalar columns; vectors rejoin for surviving candidates
    only.

    Scale posture (reworked after the r4 1M-vector measurement, where
    16-bit keys put ~15 members in every bucket → 64.7M structural
    candidates for 9.9k true pairs): sign bits come from ONE Arrow
    matmul per record batch (`hyperplane_band_rows` — no interpreted
    per-plane HOF), which makes wide keys free, so the default is 6
    bands of 24-bit keys (2^24 buckets: expected occupancy ≪ 1 at 10^6
    rows, structural-collision mass ~2^-24 per random pair per band)
    while near-dup recall stays ≈1-(1-0.984^24)^6 ≈ 0.999 at cosine
    0.999. `max_bucket` additionally drops degenerate buckets (all-equal
    or near-constant vector cohorts) exactly like `minhash_lsh_pairs`."""
    from drought_t_spark.operators.similarity import (
        cosine_expr,
        hyperplane_band_rows,
    )

    assert n_planes % n_bands == 0
    if materialize is None:
        materialize = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    # the vector table feeds the band kernel AND both verify-join
    # sides: materialized once (same posture as the minhash signature
    # table) so the input is scanned once, not 3-4×
    vecs = materialize(
        df.select(
            F.col(id_col).alias("id"),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
        )
    )
    banded = hyperplane_band_rows(vecs, n_planes, n_bands, seed)
    sz = Window.partitionBy("band", "bkey")
    banded = banded.withColumn("bsz", F.count("*").over(sz)).where(
        F.col("bsz") <= max_bucket
    ).drop("bsz")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bkey"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if counters is not None:
        # bench/diagnostic knob, same semantics as minhash_lsh_pairs
        cand = materialize(cand)
        counters["band_candidates"] = cand.count()
    scored = (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
        .withColumn("cosine", cosine_expr("v_a", "v_b"))
    )
    return scored.where(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def near_dup_clusters(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    max_iters: int = 25,
    materialize=None,
) -> DataFrame:
    """Connected components over a near-dup pair graph → one canonical
    keeper (= min id) per cluster: the step that turns pairwise dedup
    output into droppable duplicates (transitive chains A~B~C collapse
    even when A~C never paired directly).

    Iterative min-label propagation: rep ← min(rep, min over neighbors'
    rep), one join + one groupBy per round, converging in O(component
    diameter) rounds — near-dup clusters are shallow (dups of dups), so
    2-4 rounds in practice. Each round shuffles only (id, rep) pairs.
    For adversarial web-scale graphs with long chains, swap the loop
    body for the large-star/small-star contraction — the DataFrame-only
    shape is the same. Returns (id, keeper) for EVERY vertex
    (singletons keep themselves)."""
    if materialize is None:
        materialize = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = materialize(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    labels = materialize(
        vertices.select(F.col(id_col).alias("id")).withColumn("rep", F.col("id"))
    )
    for _ in range(max_iters):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("rep").alias("nrep")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nrep").alias("min_nbr"))
            .select(F.col("src").alias("id"), "min_nbr")
        )
        # one materialized frame per round carries both the new label
        # and the old (for the convergence count) — no second join
        upd = materialize(
            labels.join(nbr, "id", "left").select(
                "id",
                F.col("rep").alias("old"),
                F.least("rep", F.coalesce("min_nbr", F.col("rep"))).alias("rep"),
            )
        )
        changed = upd.where(F.col("rep") != F.col("old")).count()
        labels = upd.select("id", "rep")
        if changed == 0:
            break
    return labels.select("id", F.col("rep").alias("keeper"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram (character k-shingle) Jaccard similarity.

    With `candidates` (id_a, id_b) given, scores only those pairs — the
    verify stage of any blocking scheme (MinHash LSH supplies candidates
    at scale). Without, scores ALL pairs — O(n²), for small cohorts
    only; the join is a size-guarded broadcast nested loop. Returns
    (id_a, id_b, jaccard ≥ threshold)."""
    sh = df.select(F.col(id_col).alias("id"), shingles(text_col, k).alias("sh"))
    if candidates is None:
        pairs = (
            sh.alias("a")
            .join(F.broadcast(sh.alias("b")), F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"),
            )
        )
    else:
        pairs = (
            candidates.join(
                sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
            ).join(
                sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
            )
        )
    jac = pairs.withColumn(
        "jaccard",
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
    )
    return jac.where(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")
