"""Split the fixed cost of a Python task, with and without the session's
worker daemon.

Each mode runs in a fresh process and Spark session on local[nproc]:

- `stock`: `spark.python.daemon.module=pyspark.daemon`, PySpark's own
  daemon, whose reused workers re-read every zip archive on `sys.path`
  before each task;
- `session`: what `session.get_spark` sets, the package entry point that
  skips re-reading an unchanged archive and sets TCP_QUICKACK on each
  task's socket.

A mode reports, on warm reused workers:

- per-task worker set-up, from the task's entry into the worker to the
  first line of its UDF, with `importlib.invalidate_caches()` and
  `read_udfs` (unpickling the UDF) broken out, against the UDF's own time,
  which includes waiting for its first input batch. The median and
  quartiles run over every task of `--reps` 16-partition jobs;
- the wall of a noop `mapInPandas` over 40k rows at 1, 4, 8 and 16
  partitions: best of `--reps`, with the median and the maximum as the
  noise band;
- the zip importers a worker holds, per archive, with the archive's entry
  count.

The modes alternate for `--rounds` rounds; the output keeps every round.
The worker timers are installed by the UDF itself in each worker process
(wrapping the daemon's task entry point, `importlib.invalidate_caches` and
`pyspark.worker.read_udfs`), so both modes are measured the same way.

Usage: python scripts/bench_python_task.py [--rounds 3] [--reps 5] [--out BENCH_pytask_r08.json]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODES = ("stock", "session")
PARTITIONS = (1, 4, 8, 16)
ROWS = 40_000


def probe(batches):
    """The noop UDF: counts its rows and yields one row of this task's
    worker timings (all null on the first task of a worker process, which
    installs the timers)."""
    import importlib
    import sys
    import time
    import zipimport

    import pandas as pd
    import pyspark.worker

    entered = time.perf_counter()
    times = getattr(pyspark.worker, "_task_times", None)
    if times is None:
        kept = pyspark.worker._task_times = {}
        daemon = sys.modules["__main__"]
        if not hasattr(daemon, "worker_main"):
            import pyspark.daemon as daemon

        def timed(name, fn):
            def wrapper(*args, **kwargs):
                t = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    kept[name] = time.perf_counter() - t

            return wrapper

        task = daemon.worker_main

        def timed_task(*args, **kwargs):
            kept.clear()
            kept["start"] = time.perf_counter()
            return task(*args, **kwargs)

        daemon.worker_main = timed_task
        importlib.invalidate_caches = timed("invalidate_s", importlib.invalidate_caches)
        pyspark.worker.read_udfs = timed("read_udfs_s", pyspark.worker.read_udfs)
        times = {}
    rows = sum(len(b) for b in batches)
    archives: dict[str, int] = {}
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            archives[importer.archive] = archives.get(importer.archive, 0) + 1
    yield pd.DataFrame(
        {
            "rows": [rows],
            "setup_s": [entered - times["start"] if "start" in times else None],
            "invalidate_s": [times.get("invalidate_s")],
            "read_udfs_s": [times.get("read_udfs_s")],
            "udf_s": [time.perf_counter() - entered],
            "zip_importers": [json.dumps(archives)],
        }
    )


SCHEMA = (
    "rows long, setup_s double, invalidate_s double, read_udfs_s double, "
    "udf_s double, zip_importers string"
)


def quartiles(xs: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs * 3)
    return {"q1": round(q1, 4), "median": round(q2, 4), "q3": round(q3, 4), "n": len(xs)}


def child(mode: str, reps: int) -> dict:
    sys.path.insert(0, ROOT)
    import zipimport

    from pytorch_ie_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    extra = {"spark.ui.showConsoleProgress": "false"}
    if mode == "stock":
        extra["spark.python.daemon.module"] = "pyspark.daemon"
    spark = get_spark(app_name="bench_python_task", cpus=cpus, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(ROWS).selectExpr("id", "cast(id as string) AS s").cache()
    df.count()

    def run(n: int, collect: bool):
        out = df.repartition(n).mapInPandas(probe, SCHEMA)
        if collect:
            return out.collect()
        out.write.format("noop").mode("overwrite").save()

    for _ in range(3):  # every worker process installs its timers
        run(16, collect=True)
    tasks = [r for _ in range(reps) for r in run(16, collect=True) if r["setup_s"] is not None]
    walls = {}
    for n in PARTITIONS:
        ts = []
        for _ in range(reps):
            t = time.perf_counter()
            run(n, collect=False)
            ts.append(time.perf_counter() - t)
        walls[str(n)] = {"best": round(min(ts), 4), "median": round(statistics.median(ts), 4), "max": round(max(ts), 4)}
    archives = {}
    for path, count in json.loads(tasks[-1]["zip_importers"]).items():
        archives[path] = {"importers": count, "entries": len(zipimport.zipimporter(path)._files)}
    spark.stop()
    return {
        "mode": mode,
        "per_task": {
            key: quartiles([r[key] for r in tasks])
            for key in ("setup_s", "invalidate_s", "read_udfs_s", "udf_s")
        },
        "noop_wall_s": walls,
        "worker_zip_importers": archives,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out")
    ap.add_argument("--child", choices=MODES, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        print(json.dumps(child(args.child, args.reps)))
        return
    rounds = []
    for i in range(args.rounds):
        order = MODES if i % 2 == 0 else MODES[::-1]
        for mode in order:
            cmd = [sys.executable, os.path.abspath(__file__), "--child", mode, "--reps", str(args.reps)]
            out = subprocess.run(cmd, check=True, capture_output=True, text=True, cwd=ROOT).stdout
            rounds.append({"round": i, **json.loads(out.strip().splitlines()[-1])})
            print(json.dumps(rounds[-1]), file=sys.stderr, flush=True)
    import pyspark

    result = {
        "machine": {
            "nproc": len(os.sched_getaffinity(0)),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
        },
        "rows": ROWS,
        "reps": args.reps,
        "runs": rounds,
    }
    text = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
