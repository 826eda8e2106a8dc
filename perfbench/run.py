"""The repository's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every time is steal-adjusted: the wall
time scaled by the share of demanded CPU time the virtual machine was
granted (harness.Stopwatch), so that other tenants of the host move the
numbers less; the raw wall times are printed beside them. `setup_s` is the
start of Spark (once per run), plus the median of three set-ups (a new
session on it and input generation from the seed), plus the warm-up, one
untimed pass so that no timed pass pays for JIT compilation (see
workloads.py). Timed passes then run for `--seconds` (at least one), every
pass is checked, and the run prints each metric by name and unit, the
machine record, and as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, measured without
tracing. With `--trace 1` one more pass runs with a span around every call
into a layer, then one more untraced pass, and the metrics are the
per-layer ones; a layer the workload does not call reports 0, and
`trace.overhead_s` is the traced pass's wall time minus the mean of the
untraced passes on either side. Spans are written to `perfbench/_traces/`
at the end.

`rows_per_s` counts deduplicated triples on the KG workloads and query
result rows on `query_mix`. `failed` and `attempted` count operations and
output checks; their ratio, `failed_ops_ratio`, is printed with the metrics
but is not one of them, since a metric must never read 0.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups per untraced run; `setup_s` counts their median
SETUPS = 3


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json, beside this directory, declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def log(msg: str) -> None:
    """A progress line on standard error, stamped with seconds since start."""
    print(f"[{time.perf_counter() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def _passes(wl, seconds: float) -> list:
    """Timed passes until `seconds` have elapsed (at least one)."""
    from harness import Stopwatch
    from workloads import PassResult

    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        watch = Stopwatch()
        try:
            passes.append(wl.run_pass())
        except Exception:
            traceback.print_exc()
            raw, wall = watch.stop()
            passes.append(PassResult(wall, raw, [wall], 0, 0, failed=["pass raised"], attempted=1))
        watch.stop()
        log(f"pass {passes[-1].raw_s:.2f} s raw, {passes[-1].wall_s:.2f} s adjusted, {watch.busy_s:.1f} CPU s, {watch.steal_s:.1f} s stolen")
    return passes


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from harness import RssSampler, Stopwatch, Tracer, cpu_jiffies, end_session, machine, start_session
    from workloads import WORKLOADS

    setup_s, spark, jiffies = [], None, cpu_jiffies()
    try:
        watch = Stopwatch()
        spark = start_session(ROOT, work)
        start_s = watch.stop()[1]
        log(f"Spark start {start_s:.2f} s")
        for _ in range(1 if trace else SETUPS):
            watch = Stopwatch()
            wl = WORKLOADS[workload](spark.newSession(), os.path.join(work, "inputs"), seed)
            wl.generate()
            setup_s.append(watch.stop()[1])
            log(f"set-up {setup_s[-1]:.2f} s")
        with RssSampler() as rss:
            warm_s = wl.warm_up()
            log(f"warm-up {warm_s:.2f} s")
            passes = _passes(wl, seconds)
            log(f"{len(passes)} timed passes")
        print(json.dumps({"machine": machine(spark), "workload": workload, "seed": seed}), flush=True)
        if trace:
            tracer = Tracer(spark, f"{workload}-{seed}")
            layers = wl.trace_pass(tracer)
            os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
            tracer.write(os.path.join(HERE, "_traces", f"{workload}-seed{seed}.jsonl"))
            log("traced pass")
            # one untraced pass on each side of the traced one, so that the
            # overhead is not a warm-up effect
            passes += _passes(wl, 0)
        check_failures = wl.check(passes)
        log("checks")
    finally:
        if spark is not None:
            end_session(spark)
            log("session ended")
    busy, steal = (b - a for a, b in zip(jiffies, cpu_jiffies()))

    for msg in check_failures + [f for p in passes for f in p.failed]:
        print(f"FAILED {workload}: {msg}", file=sys.stderr)
    failed = len(check_failures) + sum(len(p.failed) for p in passes)
    attempted = sum(p.attempted for p in passes) + wl.extra_checks
    walls = [p.wall_s for p in passes]
    if trace:
        units = metric_units("per_layer")
        values = dict.fromkeys(units, 0)
        values.update({k: v for k, v in layers.items() if k in units})
        # span times are raw wall times, so the untraced side is raw too
        values["trace.overhead_s"] = layers["wall_s"] - statistics.mean(p.raw_s for p in (passes[-2], passes[-1]))
    else:
        units = metric_units("end_to_end")
        ops = [t for p in passes for t in p.op_s]
        values = {
            "setup_s": start_s + statistics.median(setup_s) + warm_s,
            "wall_s": statistics.median(walls),
            "docs_per_s": sum(p.docs for p in passes) / sum(walls),
            "rows_per_s": sum(p.rows for p in passes) / sum(walls),
            "op_p50_s": float(np.percentile(ops, 50)),
            "op_p90_s": float(np.percentile(ops, 90)),
            "peak_rss_mb": rss.peak_mb,
        }
    for k, v in values.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"failed_ops_ratio {failed / attempted:.6g} ratio")
    print(f"raw_wall_s {statistics.median(p.raw_s for p in passes):.6g} s")
    print(f"steal_share {steal / max(1, busy + steal):.4f} ratio")
    print(f"passes {len(passes)}  ops {sum(len(p.op_s) for p in passes)}  setups {len(setup_s)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="Seeded KG engine benchmark.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import pytorch_ie_spark  # noqa: F401  (fails outside a checkout of the repository)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
        log("done")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
