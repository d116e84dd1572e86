"""Per-layer spans, taken from outside the engine.

The traced run wraps the engine's public functions at their module
attributes (the engine resolves them there at call time), so no engine
file changes. Each span:

* has a name, a start, an end and a parent (kept in memory, written out
  at the end of the run);
* runs its Spark jobs under its own job group, so jobs, stages, shuffle
  bytes, spill and executor run time are read per span afterwards from
  ``statusTracker()`` and the JVM ``AppStatusStore``, and SQL metrics
  (Arrow bytes crossing the Python boundary, files written and read)
  from the ``SQLAppStatusStore``.

A span's self time is its duration minus the time its child spans cover,
so a root span's duration is exactly the sum of the self times of every
span under it; the root's own self time is reported as
``<root>.unattributed_s``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

#: SQL plan metrics summed per span (by metric name, unique accumulators)
SQL_METRICS = {
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
    "number of written files": "files_written",
    "written output": "bytes_written",
    "number of files read": "files_read",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_value(text: str) -> float:
    """Total of a formatted SQL metric: '16,528', '437.4 KiB' or the
    'total (min, med, max ...)\\n8.5 s (...)' form. Sizes are as precise
    as Spark formats them (one decimal of the largest binary unit)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self, session):
        self.sc = session.sc
        self.spark = session.spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.bookkeeping_s = 0.0
        self._undo: list[tuple[object, str, object]] = []
        self._prefix = f"perfbench-{os.getpid()}-"

    # ------------------------------------------------------------ spans --

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self.stack[-1] if self.stack else None,
               "group": f"{self._prefix}{sid}", "counters": {}}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["wall0"] = time.time()
        rec["t0"] = time.perf_counter()
        self.bookkeeping_s += rec["t0"] - t_in
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["wall1"] = time.time()
            self.stack.pop()
            if self.stack:
                outer = self.spans[self.stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.bookkeeping_s += time.perf_counter() - rec["t1"]

    def count(self, key: str, value: float) -> None:
        """Add to a counter of the innermost open span."""
        if self.stack:
            c = self.spans[self.stack[-1]]["counters"]
            c[key] = c.get(key, 0.0) + value

    # ---------------------------------------------------- instrumenting --

    def _wrap(self, owner, attr: str, name) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **k):
            with tracer.span(name(*a, **k) if callable(name) else name):
                return orig(*a, **k)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def _count_slices(self, owner, attr: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def counted(*a, **k):
            out = orig(*a, **k)
            tracer.count("slices", len(out))
            return out

        setattr(owner, attr, counted)
        self._undo.append((owner, attr, orig))

    def instrument(self) -> None:
        from drought_t_spark.ops import checkpoints
        from drought_t_spark.plans import drought, retention, rollup_job
        from drought_t_spark.sources.warehouse import Warehouse

        def write_name(_wh, _df, table, *_a, **_k):
            tbl = table.split(".", 1)[1]
            if tbl.startswith("value_history"):
                # pack_value_history only builds a plan: the pack runs here
                return "value_history.pack"
            # a write is named by the layer it serves: expiry rewrites of
            # a tier are retention work, not ingest
            open_spans = [self.spans[i]["name"] for i in self.stack]
            layer = "retention" if any(n.startswith("retention.") for n in open_spans) \
                else "warehouse"
            return f"{layer}.write.{tbl}"

        self._wrap(rollup_job, "run_rollup_job", "rollup_job")
        self._wrap(Warehouse, "write_partitioned", write_name)
        self._wrap(checkpoints, "record_commit", "checkpoints.record_commit")
        self._wrap(checkpoints, "committed_partitions", "checkpoints.committed_partitions")
        for fn in ("read_series", "read_payloads", "read_values"):
            self._wrap(retention, fn, f"retention.{fn}.plan")
        self._count_slices(retention, "route_slices")
        self._wrap(retention, "expire_tier", "retention.expire_tier")
        self._wrap(retention, "expire_payload_tier", "retention.expire_payload_tier")
        self._wrap(drought, "pool_events", "pooling.pool_events")

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ----------------------------------------------------- Spark metrics --

    def collect_spark(self) -> None:
        """Attach jobs, stage metrics and SQL metrics to every span (own
        job group only; `rollup` makes them inclusive)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        job_span: dict[int, dict] = {}
        for s in self.spans:
            s["spark"] = {"spark_jobs": 0.0, "shuffle_write_bytes": 0.0,
                          "spill_bytes": 0.0, "executor_run_ms": 0.0}
            for j in tracker.getJobIdsForGroup(s["group"]):
                job_span[j] = s
        # A stage belongs to the span it ran in: a later job that reuses
        # its shuffle output lists it again (skipped), so each stage is
        # claimed once, by the first job that lists it and whose span was
        # open when the stage was submitted.
        claimed: set[int] = set()
        for j in sorted(job_span):
            s = job_span[j]
            s["spark"]["spark_jobs"] += 1
            info = tracker.getJobInfo(j)
            for st in (info.stageIds if info is not None else ()):
                if st in claimed:
                    continue
                try:
                    sd = store.lastStageAttempt(st)
                except Py4JJavaError:  # never ran: no attempt was recorded
                    continue
                sub = sd.submissionTime()
                if not sub.isDefined() or not (
                        s["wall0"] - 0.005 <= sub.get().getTime() / 1e3 <= s["wall1"] + 0.005):
                    continue
                claimed.add(st)
                s["spark"]["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                s["spark"]["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                s["spark"]["executor_run_ms"] += sd.executorRunTime()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        for e in conv.asJava(sql.executionsList()):
            keys = e.jobs().keys().mkString(",")
            owner = next((job_span[int(j)] for j in keys.split(",")
                          if j and int(j) in job_span), None)
            if owner is None:
                continue
            names = {}
            for m in e.metrics().mkString("\u0001").split("\u0001"):
                name, acc, _kind = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                if name in SQL_METRICS:
                    names[acc] = SQL_METRICS[name]
            if not names:
                continue
            for kv in sql.executionMetrics(e.executionId()).mkString("\u0001").split("\u0001"):
                acc, _, text = kv.partition(" -> ")
                if acc in names:
                    key = names[acc]
                    owner["spark"][key] = owner["spark"].get(key, 0.0) + parse_sql_value(text)

    # --------------------------------------------------------- rollups --

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        return kids

    def rollup(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds, and
        Spark/SQL metrics inclusive of descendant spans."""
        kids = self._children()
        incl: dict[int, dict] = {}

        def inclusive(sid: int) -> dict:
            s = self.spans[sid]
            tot = dict(s.get("spark", {}))
            for k, v in s["counters"].items():
                tot[k] = tot.get(k, 0.0) + v
            for c in kids[sid]:
                for k, v in inclusive(c).items():
                    tot[k] = tot.get(k, 0.0) + v
            incl[sid] = tot
            return tot

        for s in self.spans:
            if s["parent"] is None:
                inclusive(s["id"])
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["t1"] - s["t0"]
            child = sum(self.spans[c]["t1"] - self.spans[c]["t0"] for c in kids[s["id"]])
            agg = out.setdefault(s["name"], defaultdict(float))
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child
            for k, v in incl[s["id"]].items():
                agg[k] += v
        return out

    def write(self, path: str, extra: dict) -> None:
        base = min((s["t0"] for s in self.spans), default=0.0)
        doc = dict(extra)
        doc["spans"] = [
            {"id": s["id"], "name": s["name"], "parent": s["parent"],
             "start_s": s["t0"] - base, "end_s": s["t1"] - base,
             "counters": s["counters"], "spark": s.get("spark", {})}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


# ------------------------------------------------------ per-layer metrics --

#: spans that carry the four Spark metrics (means per call of the span)
SPARK_SPANS = (
    "rollup_job",
    "warehouse.write.tier_hour", "warehouse.write.tier_day", "warehouse.write.tier_month",
    "warehouse.write.payload_hour", "warehouse.write.payload_day",
    "warehouse.write.payload_month",
    "checkpoints.record_commit",
    "serve", "retention.read_series.exec", "retention.read_payloads.exec",
    "retention.read_values.exec", "retention.expire_tier", "retention.expire_payload_tier",
    "value_history.pack",
    "drought", "drought.smooth", "drought.runs", "pooling.pool_events", "drought.finalize",
)
SPARK_KEYS = (("spark_jobs", "count"), ("shuffle_write_bytes", "B"),
              ("spill_bytes", "B"), ("executor_run_ms", "ms"))
WRITES = ("tier_hour", "tier_day", "tier_month", "payload_hour", "payload_day", "payload_month")


def layer_metrics(agg: dict[str, dict], n_ops: int, overhead_s: float,
                  bookkeeping_s: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, from `Tracer.rollup()` output.

    Times and Spark metrics are means per call of their span (inclusive
    of child spans); `*.self_s` / `*.unattributed_s` exclude them.
    `*_calls` and the codec byte counts are per operation of the workload
    (`n_ops` root spans); the warehouse file and byte counts are those of
    the ingest job. A layer the workload never calls reads 0."""

    def get(span: str, key: str) -> float:
        return agg.get(span, {}).get(key, 0.0)

    def per_call(span: str, key: str, scale: float = 1.0) -> float:
        calls = get(span, "calls")
        return get(span, key) * scale / calls if calls else 0.0

    def per_op(total: float) -> float:
        return total / n_ops if n_ops else 0.0

    m: dict[str, tuple[float, str]] = {
        "rollup_job.run_s": (per_call("rollup_job", "total_s"), "s"),
        "rollup_job.unattributed_s": (per_call("rollup_job", "self_s"), "s"),
    }
    for w in WRITES:
        m[f"warehouse.write.{w}_s"] = (per_call(f"warehouse.write.{w}", "total_s"), "s")
    pay = [f"warehouse.write.{w}" for w in WRITES if w.startswith("payload")]
    for key in ("arrow_bytes_to_python", "arrow_bytes_from_python"):
        m[f"codec.{key}"] = (per_op(sum(get(s, key) for s in pay)), "B")
    m["checkpoints.record_commit_s"] = (per_call("checkpoints.record_commit", "total_s"), "s")
    m["checkpoints.record_commit_calls"] = (per_op(get("checkpoints.record_commit", "calls")), "count")
    m["checkpoints.committed_partitions_s"] = (
        per_call("checkpoints.committed_partitions", "total_s"), "s")
    m["warehouse.files_written"] = (per_op(get("rollup_job", "files_written")), "count")
    m["warehouse.bytes_written"] = (per_op(get("rollup_job", "bytes_written")), "B")
    for op in ("read_series", "read_payloads", "read_values"):
        m[f"retention.{op}.plan_ms"] = (per_call(f"retention.{op}.plan", "total_s", 1e3), "ms")
        m[f"retention.{op}.exec_ms"] = (per_call(f"retention.{op}.exec", "total_s", 1e3), "ms")
    m["retention.read_series.slices"] = (per_call("retention.read_series.plan", "slices"), "count")
    ex = get("retention.read_payloads.exec", "total_s")
    m["codec.decode_tok_per_s"] = (
        get("retention.read_payloads.exec", "tokens") / ex if ex else 0.0, "1/s")
    reads = [f"retention.{op}.exec" for op in ("read_series", "read_payloads", "read_values")]
    n_reads = sum(get(s, "calls") for s in reads)
    m["retention.files_read"] = (
        sum(get(s, "files_read") for s in reads) / n_reads if n_reads else 0.0, "count")
    for op in ("expire_tier", "expire_payload_tier"):
        m[f"retention.{op}_s"] = (per_call(f"retention.{op}", "total_s"), "s")
        m[f"retention.{op}.self_s"] = (per_call(f"retention.{op}", "self_s"), "s")
    cycles = get("retention.expire_tier", "calls")
    m["value_history.pack_s"] = (
        get("value_history.pack", "total_s") / cycles if cycles else 0.0, "s")
    m["serve.run_s"] = (per_call("serve", "total_s"), "s")
    m["serve.unattributed_s"] = (per_call("serve", "self_s"), "s")
    m["bench.check_s"] = (per_op(get("bench.check", "total_s")), "s")
    m["drought.run_s"] = (per_call("drought", "total_s"), "s")
    m["drought.unattributed_s"] = (per_call("drought", "self_s"), "s")
    for s in ("drought.smooth", "drought.runs", "pooling.pool_events", "drought.finalize"):
        m[f"{s}_s"] = (per_call(s, "total_s"), "s")
    for s in SPARK_SPANS:
        for key, unit in SPARK_KEYS:
            m[f"{s}.{key}"] = (per_call(s, key), unit)
    m["trace.overhead_s"] = (overhead_s, "s")
    m["trace.bookkeeping_s"] = (bookkeeping_s, "s")
    return m
