"""What building a plan costs on the driver, against running it.

For every `QUERIES` entry at sf0.001, plus `run_kg_pipeline` (no
`ckpt_dir`) and `ingest_increment` over `source_files_from_documents`,
records the medians over `--reps` rounds of:

- `build_ms`: the call that builds the plan (the query function, or the
  pipeline entry point), with garbage collection off;
- `py4j_calls`: py4j `JavaMember` calls made by that build, i.e. JVM
  method calls;
- `round_trips`: py4j commands sent by that build (method calls plus
  reflection, field reads and object releases);
- `build_jobs`: Spark jobs run while building, counted with a job group;
- `action_ms` and `action_jobs`: the noop write of the built plan.

`ingest_increment` runs its increment inside the call (into a fresh
directory each round), so all its work is build work and it has no action.
A round releases every cached or checkpointed block before the next.
`--label` names the run in the `--out` file, which keeps the other labels
already in it, so one file can hold a parent and a change run.

Usage: python scripts/bench_plan_build.py [--reps 5] [--sf DIR]
       [--label NAME --out FILE] [ENTRY ...]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIPELINE_ENTRIES = ("run_kg_pipeline", "ingest_increment")


@contextmanager
def py4j_counts():
    """Counts py4j traffic inside the block, with garbage collection off:
    {'calls': JavaMember calls, 'round_trips': commands sent}."""
    from py4j.java_gateway import GatewayClient, JavaMember

    counts = {"calls": 0, "round_trips": 0}
    call, send = JavaMember.__call__, GatewayClient.send_command

    def counted_call(self, *args):
        counts["calls"] += 1
        return call(self, *args)

    def counted_send(self, *args, **kwargs):
        counts["round_trips"] += 1
        return send(self, *args, **kwargs)

    collecting = gc.isenabled()
    gc.disable()
    JavaMember.__call__, GatewayClient.send_command = counted_call, counted_send
    try:
        yield counts
    finally:
        JavaMember.__call__, GatewayClient.send_command = call, send
        if collecting:
            gc.enable()


def builders(sf_dir: str, scratch: str) -> dict:
    """Entry name -> (build(spark) -> DataFrame or None)."""
    from pytorch_ie_spark.pipeline import run_kg_pipeline
    from pytorch_ie_spark.plans.incremental import ingest_increment
    from pytorch_ie_spark.queries import QUERIES
    from pytorch_ie_spark.sources.readers import source_files_from_documents

    out = {name: (lambda spark, fn=entry[0]: fn(spark, sf_dir)) for name, entry in QUERIES.items()}
    out["run_kg_pipeline"] = lambda spark: run_kg_pipeline(spark, source_files_from_documents(spark, sf_dir))

    def ingest(spark):
        ingest_increment(spark, source_files_from_documents(spark, sf_dir), tempfile.mkdtemp(dir=scratch))

    out["ingest_increment"] = ingest
    return out


def release(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def measure(spark, build, reps: int) -> dict:
    sc = spark.sparkContext
    rounds = []
    for r in range(reps):
        group = f"build-{r}-{time.monotonic_ns()}"
        sc.setJobGroup(group, "plan build")
        with py4j_counts() as counts:
            t0 = time.perf_counter()
            df = build(spark)
            build_ms = (time.perf_counter() - t0) * 1e3
        row = {"build_ms": build_ms, "py4j_calls": counts["calls"], "round_trips": counts["round_trips"]}
        row["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        if df is not None:
            sc.setJobGroup(group + "-action", "action")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            row["action_ms"] = (time.perf_counter() - t0) * 1e3
            row["action_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group + "-action"))
        release(spark)
        rounds.append(row)
    return {k: statistics.median(row[k] for row in rounds) for k in rounds[0]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("entries", nargs="*", help="QUERIES names or pipeline entry points (default: all)")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", help="input tables (default: the tier-1 tests' sf0.001 directory)")
    ap.add_argument("--label", default="run")
    ap.add_argument("--out")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from pytorch_ie_spark.session import get_spark
    from tests.conftest import TESTDATA

    sf_dir = args.sf or TESTDATA

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="bench_plan_build",
        cpus=cpus,
        extra_conf={"spark.driver.memory": "4g", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    machine = {"cpus": cpus, "python": platform.python_version(), "pyspark": spark.version}
    scratch = tempfile.mkdtemp(prefix="plan_build_")
    try:
        table = builders(sf_dir, scratch)
        names = args.entries or list(table)
        # one untimed round, so the first entry pays no JIT or worker start-up
        measure(spark, table[names[0]], 1)
        result = {}
        for name in names:
            result[name] = {k: round(v, 1) for k, v in measure(spark, table[name], args.reps).items()}
            print(json.dumps({"entry": name, **result[name]}), flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()
    queries = [n for n in result if n not in PIPELINE_ENTRIES]
    run = {
        "machine": machine,
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "reps": args.reps,
        "totals_over_queries": {
            k: round(sum(result[n].get(k, 0) for n in queries), 1)
            for k in ("build_ms", "py4j_calls", "round_trips", "build_jobs", "action_ms", "action_jobs")
        },
        "entries": result,
    }
    if args.out:
        runs = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                runs = json.load(f)
        runs[args.label] = run
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
