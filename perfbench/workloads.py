"""The two workloads: `warehouse` (ingest, then serve and expire) and
`drought`.

Each workload has a seeded `setup` that makes its inputs (run once
untimed, then timed and repeated, reported as `setup_s`), a `reference`
built once from those inputs (reported as `reference_s`), an optional
warm-up, a measurement loop that runs operations until the requested
seconds have passed, and a check of every operation's output against
the reference. A wrong answer counts as a failed operation; an
operation is never retried and no minimum over repeats is kept.

The engine's functions are always called through their module
attributes (``rollup_job.run_rollup_job``, ``retention.read_series``...)
so that the traced run's wrappers see every call.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from datetime import datetime, timedelta

import numpy as np

from common import WORK, fresh_dir, log, median, quantile
from reference import EPOCH, RawTokens, compare_events

#: Seed of the workloads' shape, the same in every run: the serve read
#: windows and the drought series' event structure (the token table's
#: source sizes are a fixed Zipf split already). `--seed` sets the
#: content: token ids, document lengths and series values. The shape
#: decides the work (the pooling loop runs one pass, two Spark jobs, per
#: level of its deepest cascade: 12 to 22 passes over five seeds), and a
#: run-to-run comparison must not measure it.
SHAPE_SEED = 42

#: workload sizes; `tiny` exists for the benchmark's self-test
SIZES = {
    "full": dict(n_sources=32, n_total=12_000, n_groups=8, n_sites=32,
                 ref_sites=4, check_sources=4, reads_per_cycle=12),
    "tiny": dict(n_sources=4, n_total=4_000, n_groups=8, n_sites=6,
                 ref_sites=3, check_sources=2, reads_per_cycle=4),
}


class Workload:
    """Counters and latency samples shared by the workloads."""

    name = ""
    #: span the traced run treats as one operation of this workload
    root = ""

    def __init__(self, session, seed: int, size: str, corrupt: bool,
                 known_defects: bool = False):
        self.spark = session.spark
        self.cpu_seconds = session.cpu_seconds
        self.seed = seed
        self.size = SIZES[size]
        self.corrupt = corrupt
        self.known_defects = known_defects
        self.rundir = os.path.join(WORK, "runs", f"{self.name}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        #: (wall, CPU) seconds of each whole serve round
        self.rounds: list[tuple[float, float]] = []
        self.setup_times: list[float] = []
        self.reference_s = float("nan")
        self.tracer = None

    def start(self) -> tuple[float, float]:
        """Wall and CPU clocks at the start of an operation."""
        return time.perf_counter(), self.cpu_seconds()

    def lap(self, start: tuple[float, float]) -> tuple[float, float]:
        """Wall and CPU seconds since `start`."""
        return time.perf_counter() - start[0], self.cpu_seconds() - start[1]

    def record(self, kind: str, lap: tuple[float, float], problems: list[str]) -> None:
        self.attempted += 1
        self.lat.setdefault(kind, []).append(lap[0])
        self.cpu.setdefault(kind, []).append(lap[1])
        if problems:
            self.failed += 1
            self.errors += problems[:3]
            log(f"{self.name}: {kind} FAILED: {problems[:3]}")

    def crash(self, kind: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{kind} raised {type(exc).__name__}: {exc}"[:300])
        log(f"{self.name}: {kind} raised {type(exc).__name__}: {exc}")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def check(self, fn, *a) -> list[str]:
        with self.span("bench.check"):
            return fn(*a)

    def run_setup(self, reps: int) -> None:
        """One untimed setup, the reference, the warm-up, then `reps`
        timed setups of the same inputs. The timed ones run after the
        JVM's first jobs, which otherwise race them for the CPUs."""
        self.setup()
        t0 = time.perf_counter()
        self.reference()
        self.reference_s = time.perf_counter() - t0
        self.warm_up()
        for _ in range(reps):
            t0 = time.perf_counter()
            self.setup()
            self.setup_times.append(time.perf_counter() - t0)

    def warm_up(self) -> None:
        pass

    def cleanup(self) -> None:
        shutil.rmtree(self.rundir, ignore_errors=True)

    # subclasses: setup(), reference(), measure(seconds) -> number of
    # operations, job_seconds(cpu), op_seconds(cpu) (wall seconds, or CPU
    # seconds with cpu=True), work_per_s(), detail()


# ---------------------------------------------------------- warehouse --


class WarehouseLifecycle(Workload):
    """The warehouse's life in one run.

    *Ingest*: `run_rollup_job(n_groups, with_payloads=True)` over a
    seeded Zipf(1.2)-skewed token table into a fresh warehouse, on a JVM
    that has only generated that table, as for a submitted batch job.

    *Serve*: one closed-loop client over that warehouse: rounds of a
    fixed round-robin of nine reads (`read_series`,
    `read_payloads(decode=True)` and `read_values`, three each), with one
    hour-tier retention cycle (`expire_tier(archive_values=True)` then
    `expire_payload_tier`) after six reads and then every
    `reads_per_cycle` reads, the cutoff advancing by one day while it
    stays below the last hour of data. Whole rounds run until the reads
    have taken `seconds`, at least one round. A round, its nine reads
    summed, is the workload's repeated operation.

    With `known_defects` the loop also issues the traffic the engine is
    known to answer wrongly (METRICS.md): sub-day windows inside expired
    days, and cycles until one expires every row of the hour tier."""

    name = "warehouse"
    root = "rollup_job"

    def setup(self) -> None:
        from drought_t_spark import synth

        raw = fresh_dir("runs", f"{self.name}-{os.getpid()}", "raw")
        z = self.size
        synth.sequences_df(self.spark, self.seed, z["n_sources"], z["n_total"]) \
            .write.mode("overwrite").parquet(raw)
        self.raw_path = raw

    def reference(self) -> None:
        self.ref = RawTokens(self.raw_path)

    def measure(self, seconds: float) -> int:
        """One ingest, then the serve loop on its output; returns the
        number of operations."""
        import pyarrow.compute as pc

        from drought_t_spark.plans import rollup_job
        from drought_t_spark.sources.warehouse import Warehouse

        seqs = self.spark.read.parquet(self.raw_path)
        self.lat.clear()
        self.cpu.clear()
        wh = Warehouse(fresh_dir("runs", f"{self.name}-{os.getpid()}", "wh"))
        job = "bench-ingest"
        t0 = self.start()
        try:
            rollup_job.run_rollup_job(self.spark, wh, seqs, job,
                                      n_groups=self.size["n_groups"], with_payloads=True)
        except Exception as e:  # boundary: count the failure and stop
            self.crash("ingest", e)
            return 1
        lap = self.lap(t0)
        self.record("ingest", lap, self.check(self.check_output, wh, job))
        self.tok_rate = self.ref.total_tokens / lap[0]
        pay_bytes = pc.sum(pc.binary_length(
            _table(wh, "agg.payload_hour", ["payload"])["payload"])).as_py()
        self.bytes_per_tok = pay_bytes / self.ref.total_tokens
        self.stored_ratio = _parquet_bytes(wh.root) / self.ref.parquet_bytes
        self.wh = wh
        return 1 + self.serve(seconds)

    def check_output(self, wh, job: str) -> list[str]:
        """Read the written tables with pyarrow, not Spark: the check
        shares no code with the engine and launches no Spark job."""
        import pyarrow.compute as pc

        from drought_t_spark.codec import tsz1

        problems = []
        total = self.ref.total_tokens
        for tier in ("hour", "day", "month"):
            got = pc.sum(_table(wh, f"agg.tier_{tier}", ["n_tok_sum"])["n_tok_sum"]).as_py()
            if got != total:
                problems.append(f"tier_{tier} n_tok_sum {got} != raw {total}")
        rng = np.random.default_rng(self.seed)
        sample = sorted(rng.choice(self.ref.sources, self.size["check_sources"], replace=False))
        flipped = not self.corrupt
        for tier in ("hour", "day", "month"):
            pay = _table(wh, f"agg.payload_{tier}",
                         ["source", "bucket_start", "chunk_id", "payload", "payload_n_tokens"],
                         sources=sample).to_pandas()
            for src in sample:
                chunks = pay[pay.source == src].sort_values(["bucket_start", "chunk_id"])
                decoded = []
                for blob, n_tok in zip(chunks.payload, chunks.payload_n_tokens):
                    d = tsz1.decode_tokens(blob)
                    if len(d) != n_tok:
                        problems.append(f"payload_{tier} {src} chunk length mismatch")
                    if not flipped:  # self-test: one wrong token must be caught
                        d = d.copy()
                        d[0] ^= 1
                        flipped = True
                    decoded.append(d)
                stream = np.concatenate(decoded) if decoded else np.zeros(0, np.int32)
                if not np.array_equal(stream, self.ref.tokens(src)):
                    problems.append(f"payload_{tier} {src} tokens differ from raw")
        lin = _table(wh, "ops.lineage", ["job_id", "stage"]).to_pandas()
        stages = set(lin.stage[lin.job_id == job])
        for st in ("hour", "day", "month"):
            if st not in stages:
                problems.append(f"no lineage row for {st}")
        cp = _table(wh, "ops.checkpoints", ["job_id", "stage", "partition_id"]).to_pandas()
        groups = set(cp.partition_id[(cp.job_id == job) & (cp.stage == "hour")])
        n = self.size["n_groups"]
        if groups != {f"{n}:{g}" for g in range(n)}:
            problems.append(f"hour checkpoints {sorted(groups)} != all {n} groups")
        return problems

    def _window(self, rng, kind: str, horizon: int) -> tuple[int, int]:
        """Hour-aligned [lo, hi) in hours from the epoch. Except for the
        `*_expired` kinds, hour-granular edges stay at or above the
        retention horizon: below it the hour tiers are expired and only
        whole days remain, which the engine answers wrongly (METRICS.md)."""
        span = max(self.ref.span_hours - horizon, 2)
        if kind == "series_hour":  # inside one day: hour slices only
            lo = horizon + int(rng.integers(0, span - 1))
            hi = lo + 1 + int(rng.integers(0, 24 - lo % 24))
        elif kind == "series_day":  # hour tails around whole days
            lo = horizon + int(rng.integers(0, min(span, 24)))
            hi = lo + int(rng.integers(30, 97))
        elif kind == "series_month":  # hour + day + whole-month slices
            lo = -int(rng.integers(1, 49))
            hi = 31 * 24 + int(rng.integers(1, 49))
        elif kind == "payloads":  # 1-72 h windows
            lo = horizon + int(rng.integers(0, span - 1))
            hi = lo + int(rng.integers(1, 73))
        elif kind.endswith("_expired"):  # starts inside the last expired day
            lo = max(horizon, 24) - int(rng.integers(1, 24))
            hi = lo + int(rng.integers(1, 73))
        else:  # values: across the expiry horizon
            lo = max(horizon, 24) - int(rng.integers(1, 25))
            hi = max(horizon, 24) + int(rng.integers(1, 25))
        return lo, hi

    def _read(self, rng, kind: str, horizon: int) -> tuple[float, float] | None:
        """One read and its check; its wall and CPU seconds, None if it raised."""
        from drought_t_spark.plans import retention

        lo, hi = self._window(rng, kind, horizon)
        a, b = EPOCH + timedelta(hours=lo), EPOCH + timedelta(hours=hi)
        op = "read_series" if kind.startswith("series") else (
            "read_payloads" if kind.startswith("payloads") else "read_values")
        t0 = self.start()
        try:
            if op == "read_series":
                df = retention.read_series(self.spark, self.wh, a, b)
            elif op == "read_payloads":
                df = retention.read_payloads(self.spark, self.wh, a, b, decode=True)
            else:
                df = retention.read_values(self.spark, self.wh, "hour", a, b)
            with self.span(f"retention.{op}.exec"):
                pdf = df.toPandas()
                if op == "read_payloads" and self.tracer:
                    self.tracer.count("tokens", float(pdf.n_tokens.sum()))
        except Exception as e:  # boundary: count the failure, keep serving
            self.crash(f"{op} {kind}", e)
            return None
        lap = self.lap(t0)
        self.record(op, lap, self.check(self.check_read, op, kind, pdf, lo, hi))
        return lap

    def check_read(self, op: str, kind: str, pdf, lo: int, hi: int) -> list[str]:
        where = f"{op} {kind} [{lo},{hi})"
        if op == "read_series":
            got = pdf.groupby("source")[["n_seq", "n_tok_sum"]].sum()
            got = {s: (int(r.n_seq), int(r.n_tok_sum)) for s, r in got.iterrows()}
            want = self.ref.range_sums(lo, hi)
            return [] if got == want else [f"{where} sums differ from raw"]
        if op == "read_payloads":
            problems = []
            pdf = pdf.sort_values(["source", "bucket_start", "chunk_id"])
            got = {s: np.concatenate([np.asarray(t, np.int32) for t in g.tokens])
                   for s, g in pdf.groupby("source")}
            if self.corrupt and got:
                first = next(iter(got))
                got[first] = got[first].copy()
                got[first][0] ^= 1
            for s in self.ref.sources:
                want = self.ref.tokens(s, lo, hi)
                have = got.get(s, np.zeros(0, np.int32))
                if not np.array_equal(have, want):
                    problems.append(f"{where} {s} tokens differ from raw")
            return problems
        want = self.ref.hours(lo, hi)
        want_v = (want.n_tok_sum.to_numpy() / want.n_seq.to_numpy()).astype(np.float64)
        want_k = sorted(zip(want.source, want.hour, want_v.view(np.uint64)))
        hours = ((pdf.bucket_start - EPOCH) / timedelta(hours=1)).astype(int)
        got_k = sorted(zip(pdf.source, hours, pdf.value.to_numpy(np.float64).view(np.uint64)))
        return [] if got_k == want_k else [f"{where} not bit-equal to archived values"]

    def _cycle(self, k: int) -> None:
        from drought_t_spark.plans import retention

        cutoff = datetime(2024, 1, 2) + timedelta(days=k)
        lo_h, hi_h = 24 * k, 24 * (k + 1)
        t0 = self.start()
        try:
            a = retention.expire_tier(self.spark, self.wh, "bench-serve", "hour", cutoff,
                                      archive_values=True)
            b = retention.expire_payload_tier(self.spark, self.wh, "bench-serve", "hour", cutoff)
        except Exception as e:  # boundary: count the failure, keep serving
            self.crash("expire", e)
            return
        lap = self.lap(t0)
        want = len(self.ref.hours(lo_h, hi_h))
        problems = [f"expired {x['expired']} hour rows, raw has {want}"
                    for x in (a, b) if x["expired"] != want]
        self.record("expire", lap, problems)

    def serve(self, seconds: float) -> int:
        rng = np.random.default_rng(SHAPE_SEED)
        kinds = ("series_hour", "payloads", "values", "series_day", "payloads",
                 "values", "series_month", "payloads", "values")
        span = self.ref.span_hours
        # cycle k cuts off at 24 * (k + 1) h; normally rows stay after it
        max_cycles = (span - 1) // 24
        if self.known_defects:  # the expired-day reads right after a cycle
            kinds = ("series_hour", "payloads", "series_expired", "payloads_expired", "values")
            max_cycles = -(-span // 24)  # the last one expires every row
        k_reads = self.size["reads_per_cycle"]
        n, reads, cycles, read_s = 0, 0, 0, 0.0
        wall = cpu = 0.0
        # the first cycle after half a cycle's reads: reads see both sides
        with self.span("serve"):
            while (reads == 0 or reads % len(kinds) or read_s < seconds
                   or (self.known_defects and cycles < max_cycles)):
                if cycles < max_cycles and reads == k_reads // 2 + cycles * k_reads:
                    self._cycle(cycles)
                    cycles += 1
                else:
                    t0 = time.perf_counter()
                    lap = self._read(rng, kinds[reads % len(kinds)], 24 * cycles)
                    read_s += time.perf_counter() - t0
                    reads += 1
                    if lap:
                        wall, cpu = wall + lap[0], cpu + lap[1]
                    if reads % len(kinds) == 0:
                        self.rounds.append((wall, cpu))
                        wall = cpu = 0.0
                n += 1
        return n

    def job_seconds(self, cpu: bool = False) -> float:
        return (self.cpu if cpu else self.lat)["ingest"][0]

    def op_seconds(self, cpu: bool = False) -> list[float]:
        """Serve rounds: the workload's repeated operation."""
        return [r[1] if cpu else r[0] for r in self.rounds]

    def work_per_s(self) -> float:
        """Raw tokens committed per second of the ingest job."""
        return self.tok_rate

    def detail(self) -> dict:
        def ms(kind: str, q: float):
            v = self.lat.get(kind, [])
            return (quantile(v, q) * 1e3 if v else float("nan"), "ms")

        out = {
            "ingest_tok_per_s": (self.tok_rate, "1/s"),
            "ingest_s": (self.lat["ingest"][0] if self.lat.get("ingest") else float("nan"), "s"),
            "payload_bytes_per_token": (self.bytes_per_tok, "B"),
            "stored_bytes_per_raw_byte": (self.stored_ratio, "ratio"),
            "read_series_ms.p50": ms("read_series", 0.5),
            "read_series_ms.p90": ms("read_series", 0.9),
            "read_payloads_ms.p50": ms("read_payloads", 0.5),
            "read_payloads_ms.p90": ms("read_payloads", 0.9),
            "read_values_ms.p50": ms("read_values", 0.5),
            "expire_s": (median(self.lat["expire"]) if self.lat.get("expire")
                         else float("nan"), "s"),
        }
        for k in ("read_series", "read_payloads", "read_values", "expire"):
            out[f"{k}.samples"] = (len(self.lat.get(k, [])), "count")
        out["serve_rounds"] = (len(self.rounds), "count")
        return out


def _table(wh, table: str, columns: list[str], sources=None):
    """A warehouse table read with pyarrow (hive `source=` partitions)."""
    import pyarrow.dataset as ds

    d = ds.dataset(wh.path(table), format="parquet", partitioning="hive")
    flt = ds.field("source").isin(list(sources)) if sources is not None else None
    return d.to_table(columns=columns, filter=flt)


def _parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )


# ------------------------------------------------------------ drought --


class Drought(Workload):
    """`drought_events_for_tier(tier, "day", EngineConfig())`, collected,
    over a multi-site daily series written to parquet in setup.

    The series is synth's fixture at `SHAPE_SEED` under a seeded map
    a*x + b (a a power of two, b an integer). The threshold, pooling and
    exclusion rules are all relative, so every seed has the same events
    up to scale, and the same pooling passes."""

    name = "drought"
    root = "drought"
    #: calls before measuring: the second call still runs ~40 % above the
    #: warm level the later ones settle to (4 cores)
    WARM_CALLS = 2
    MIN_CALLS = 2

    def setup(self) -> None:
        from drought_t_spark import synth

        pdf = synth.series_pdf(SHAPE_SEED, n_sites=self.size["n_sites"])
        rng = np.random.default_rng(self.seed)
        pdf["value"] = pdf["value"] * 2.0 ** int(rng.integers(-2, 3)) + int(rng.integers(-50, 51))
        d = fresh_dir("runs", f"{self.name}-{os.getpid()}", "series")
        self.path = os.path.join(d, "series.parquet")
        pdf.to_parquet(self.path, coerce_timestamps="us", allow_truncated_timestamps=False)
        self.n_rows = len(pdf)
        self.pdf = pdf

    def reference(self) -> None:
        from drought_t_spark import local_ref
        from drought_t_spark.config import EngineConfig

        pdf = self.pdf
        rng = np.random.default_rng(self.seed)
        sites = sorted(pdf.site.unique())
        self.sample = sorted(rng.choice(sites, self.size["ref_sites"], replace=False))
        self.refs = {
            s: local_ref.run_site(pdf[pdf.site == s].rename(columns={"date": "bucket_start"}),
                                  tier="day", cfg=EngineConfig())
            for s in self.sample
        }
        self.scale = {s: float(pdf.value[pdf.site == s].abs().max()) for s in self.sample}

    def measure(self, seconds: float, max_ops: int | None = None) -> int:
        """Calls until `seconds` have passed (at least `MIN_CALLS`), or
        exactly `max_ops` calls."""
        from drought_t_spark.config import EngineConfig
        from drought_t_spark.plans import drought

        tier = drought.series_to_tier(self.spark.read.parquet(self.path), ts_col="date")
        t_start, n = time.perf_counter(), 0
        while (n < max_ops) if max_ops is not None else \
                (n < self.MIN_CALLS or time.perf_counter() - t_start < seconds):
            n += 1
            t0 = self.start()
            try:
                with self.span("drought"):
                    ev = drought.drought_events_for_tier(
                        tier, "day", EngineConfig(), materialize=self._materialize())
                    with self.span("drought.finalize"):
                        pdf = ev.toPandas()
            except Exception as e:  # boundary: count the failure, keep measuring
                self.crash("drought", e)
                continue
            lap = self.lap(t0)
            self.record("drought", lap, self.check(self.check_events, pdf))
        return n

    def _materialize(self):
        """None (the engine default) untraced; traced, the same eager
        localCheckpoint inside a span per call: smooth, then runs."""
        if not self.tracer:
            return None
        names = iter(("drought.smooth", "drought.runs"))

        def materialize(df):
            with self.span(next(names, "drought.materialize")):
                return df.localCheckpoint(eager=True)

        return materialize

    def check_events(self, pdf) -> list[str]:
        problems = []
        hit = pdf.index[pdf.source.isin(self.sample)]
        if self.corrupt and len(hit):  # self-test: one wrong event must be caught
            pdf = pdf.copy()
            pdf.loc[hit[0], "duration"] += 1
        for s in self.sample:
            why = compare_events(pdf[pdf.source == s], self.refs[s], s, self.scale[s])
            if why:
                problems.append(why)
        return problems

    def warm_up(self) -> None:
        """Checked but untimed calls, so the measured calls run on a warm
        JVM."""
        self.measure(0, max_ops=self.WARM_CALLS)
        self.lat.clear()
        self.cpu.clear()

    def job_seconds(self, cpu: bool = False) -> float:
        return median(self.op_seconds(cpu))

    def op_seconds(self, cpu: bool = False) -> list[float]:
        return (self.cpu if cpu else self.lat).get("drought", [])

    def work_per_s(self) -> float:
        return self.n_rows / median(self.op_seconds())

    def detail(self) -> dict:
        return {"drought_s": (median(self.op_seconds()), "s"),
                "site_days_per_s": (self.work_per_s(), "1/s")}


WORKLOADS = {"warehouse": WarehouseLifecycle, "drought": Drought}
