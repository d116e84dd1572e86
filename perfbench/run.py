#!/usr/bin/env python3
"""Engine benchmark: `warehouse` (ingest, serve, expire) and `drought`.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. The inputs are made
from `--seed`; every operation's output is checked. The last line of
stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` `metrics` holds the end-to-end metrics listed in
BENCHMARK.json; with `--trace 1` the run is traced and `metrics` holds
the per-layer metrics (spans are written to `.perfbench_work/traces/`).
The line before it carries the environment record and the workload's
own named metrics (METRICS.md). `--workload all` runs both workloads in
one process and reports every named metric. `--size tiny`, `--corrupt` and
`--known-defects` exist for the self-test (selftest.py).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

#: timed setups per run (after one untimed); `setup_s` is their median
SETUP_REPS = 3


def _metric(value: float, unit: str) -> dict:
    v = float(value)
    return {"value": v if math.isfinite(v) else None, "unit": unit}


def run_workload(sess, name: str, args, env: dict) -> dict:
    from tracing import Tracer
    from workloads import WORKLOADS

    w = WORKLOADS[name](sess, args.seed, args.size, args.corrupt, args.known_defects)
    try:
        w.run_setup(SETUP_REPS)
        common.log(f"{name}: setup {['%.2f' % x for x in w.setup_times]} s, "
                   f"reference {w.reference_s:.2f} s")
        tr = Tracer(sess) if args.trace else None
        if tr:
            tr.instrument()
            w.tracer = tr
        try:
            t0 = time.perf_counter()
            n_ops = w.measure(args.seconds)
            wall = time.perf_counter() - t0
        finally:
            if tr:
                tr.restore()
                w.tracer = None
        common.log(f"{name}: {n_ops} operations in {wall:.2f} s")
        for kind, xs in w.lat.items():
            common.log(f"{name}: {kind} s {['%.3f' % x for x in xs]}")
        lat = w.op_seconds()
        if not lat:
            raise RuntimeError(f"{name}: no operation completed: {w.errors[:3]}")
        setup_s = common.median(w.setup_times)
        rss = sess.peak_rss_mb()
        e2e = {
            "setup_s": _metric(setup_s, "s"),
            "op_cpu_s.p50": _metric(common.median(w.op_seconds(cpu=True)), "s"),
            "job_cpu_s": _metric(w.job_seconds(cpu=True), "s"),
        }
        detail = {k: _metric(v, u) for k, (v, u) in w.detail().items()}
        detail.update(e2e)
        detail["op_ms.p50"] = _metric(common.median(lat) * 1e3, "ms")
        detail["work_per_s"] = _metric(w.work_per_s(), "1/s")
        detail["reference_s"] = _metric(w.reference_s, "s")
        detail["peak_rss_mb"] = _metric(rss, "MB")
        detail["ops"] = _metric(n_ops, "count")
        out = {"workload": name, "traced": bool(tr), "e2e": e2e, "detail": detail}
        history = os.path.join(common.WORK, "results", f"{name}-{args.size}.jsonl")
        # an untraced run's job wall, keyed by everything that decides it
        key = {"seed": args.seed, "engine_sha": env["engine_sha"],
               "bench_sha": env["bench_sha"], "nproc": env["nproc"]}
        if tr:
            out.update(trace_layers(tr, w, history, key, args))
        elif not (args.corrupt or args.known_defects):
            os.makedirs(os.path.dirname(history), exist_ok=True)
            with open(history, "a") as fh:
                fh.write(json.dumps({**key, "job_s": w.job_seconds()}) + "\n")
        out["attempted"], out["failed"], out["errors"] = w.attempted, w.failed, w.errors
        out["detail"]["ops_failed_ratio"] = _metric(w.failed / max(w.attempted, 1), "ratio")
        return out
    finally:
        w.cleanup()


def trace_layers(tr, w, history: str, key: dict, args) -> dict:
    """Per-layer metrics of a traced run, its span file, and the tracing
    overhead: this run's job wall minus the median job wall of the
    untraced runs recorded in this checkout with the same seed, engine
    and benchmark sources and CPU count (the tracer's own bookkeeping
    time when there is none)."""
    from tracing import layer_metrics

    tr.collect_spark()
    past = []
    if os.path.exists(history):
        with open(history) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        past = [r["job_s"] for r in rows if all(r.get(k) == v for k, v in key.items())]
    overhead = w.job_seconds() - common.median(past) if past else tr.bookkeeping_s
    agg = tr.rollup()
    layers = layer_metrics(agg, int(agg.get(w.root, {}).get("calls", 0)),
                           overhead, tr.bookkeeping_s)
    path = os.path.join(common.WORK, "traces", f"{w.name}-seed{args.seed}.json")
    tr.write(path, {"workload": w.name, "seed": args.seed, "job_s": w.job_seconds(),
                    "untraced_job_s_median": common.median(past) if past else None,
                    "untraced_runs": len(past)})
    return {"layers": {k: _metric(v, u) for k, (v, u) in layers.items()},
            "trace_file": os.path.relpath(path, common.ROOT)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["warehouse", "drought", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--corrupt", action="store_true",
                   help="flip one value in each checked output (self-test only)")
    p.add_argument("--known-defects", action="store_true",
                   help="add the serve traffic the engine is known to answer "
                        "wrongly (self-test only; METRICS.md)")
    args = p.parse_args(argv)

    if not os.path.isdir(common.ENGINE):
        print(f"perfbench: engine package not found at {common.ENGINE}; "
              f"run from a checkout of the repository", file=sys.stderr)
        return 2
    t_proc = time.perf_counter()
    sys.path.insert(0, common.ROOT)
    common.prepare_workdir()
    sess = common.Session()
    common.log(f"spark session up in {time.perf_counter() - t_proc:.2f} s")
    try:
        env = sess.environment()
        names = ["warehouse", "drought"] if args.workload == "all" else [args.workload]
        results = []
        for name in names:
            common.log(f"{name}: seed={args.seed} seconds={args.seconds} trace={args.trace}")
            results.append(run_workload(sess, name, args, env))
    finally:
        sess.stop()
    common.log(f"done in {time.perf_counter() - t_proc:.2f} s")

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    key = "layers" if args.trace else "e2e"
    if args.workload == "all":
        metrics = {f"{r['workload']}.{k}": v for r in results
                   for k, v in {**r["detail"], **r.get("layers", {})}.items()}
    else:
        metrics = results[0][key]
    for r in results:
        print(json.dumps({"environment": env, **r}), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
