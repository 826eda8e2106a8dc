"""Steadiness self-check: runs the benchmark in sets of seeded runs and prints,
for every end-to-end metric of every workload, the spread of each set (the
distance between the first and third quartile as a share of the median)
against the metric's bound in BENCHMARK.json, how far the second set's
median moved from the first's, and how long a run takes.

    python3 perfbench/steady.py                      # 2 sets x 10 runs, all workloads
    python3 perfbench/steady.py --workloads kg_build --runs 5 --sets 1
    python3 perfbench/steady.py --seed 7 --runs 1 --sets 1   # every workload on seed 7

Run from the root of a checkout. Set k uses seeds seed+k*1000 ..
seed+k*1000+runs-1, so two sets see different inputs. Every result is also written as one JSON
line to `--out`; `--summary` writes the machine record, the seeds, the
medians and the spreads as the recorded baseline.

The numbers of the older `bench.py` (best-of-2 per-query seconds over the
sf0.1 tables) are a separate trajectory, not comparable with these.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int) -> dict:
    """One benchmark run: its result, the machine record and steal share it
    printed, and how long the whole process took."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    run_s = time.monotonic() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    machine = next(json.loads(l)["machine"] for l in lines if l.startswith('{"machine"'))
    steal = next(float(l.split()[1]) for l in lines if l.startswith("steal_share "))
    return {**json.loads(lines[-1]), "machine": machine, "steal_share": steal, "run_s": run_s}


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse the second median is than the first, as a share."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1001, help="first seed of the first set")
    ap.add_argument("--out", default=os.path.join(HERE, "_traces", "steady.jsonl"))
    ap.add_argument("--summary", help="also write the medians and spreads here as JSON")
    args = ap.parse_args()
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)

    ok = True
    summary: dict = {
        "note": "bench.py numbers are a separate trajectory, not comparable with these",
        "runs_per_set": args.runs,
        "sets": args.sets,
        "workloads": {},
    }
    run_s = []
    with open(args.out, "a") as out:
        for w in args.workloads:
            sets = []
            for k in range(args.sets):
                results = []
                for i in range(args.runs):
                    seed = args.seed + k * 1000 + i
                    r = run_once(spec, w, seed)
                    out.write(json.dumps({"workload": w, "set": k, "seed": seed, **r}) + "\n")
                    out.flush()
                    if not r["correct"] or r["failed"]:
                        ok = False
                        print(f"{w} seed {seed}: correct={r['correct']} failed={r['failed']}")
                    results.append(r)
                    run_s.append(r["run_s"])
                    summary["machine"] = r["machine"]
                sets.append(results)
            summary["workloads"][w] = {
                "seeds": [[args.seed + k * 1000 + i for i in range(args.runs)] for k in range(args.sets)],
                "steal_share_median": statistics.median(r["steal_share"] for s in sets for r in s),
                "run_s_median": statistics.median(r["run_s"] for s in sets for r in s),
            }
            for m in spec["end_to_end"]:
                name, bound = m["name"], m["bound"]
                vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
                spreads = [spread(v) for v in vals] if args.runs >= 2 else []
                meds = [statistics.median(v) for v in vals]
                line = f"{w:10s} {name:12s} {m['unit']:4s} bound {bound:.3f}  median " + " ".join(f"{x:.4g}" for x in meds)
                line += "  spread " + " ".join(f"{x:.3f}" for x in spreads)
                if len(meds) > 1:
                    shift = worse_by(meds[0], meds[1], m["better"])
                    line += f"  second worse by {shift:+.3f}"
                    ok &= shift <= bound
                if name != "setup_s":
                    ok &= all(x <= bound for x in spreads)
                print(line, flush=True)
                summary["workloads"][w][name] = {"medians": meds, "spreads": spreads}
    summary["run_s_mean"] = statistics.mean(run_s)
    print(f"mean run {summary['run_s_mean']:.1f} s, longest {max(run_s):.1f} s")
    if args.summary:
        with open(args.summary, "w") as f:
            json.dump(summary, f, indent=1)
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
