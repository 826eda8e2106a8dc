"""Round-6 measurement harness (bench.py is frozen for the driver; this file
is the builder's instrument — guide §1.4 noop-sink isolation, §1.5 labels).

Usage:
  python bench_extra.py [query ...]              # time the named queries (all if none)
  python bench_extra.py --plans DIR [query ...]  # also dump .explain("formatted")
                                                 # to DIR/<query>_<tag>.txt
  python bench_extra.py kg_pipeline              # the staged run_kg_pipeline with
                                                 # bench.py's config (not in "all")
Env:
  SPARK_GRAFT_SF_DIR   (default: the sf0.1 directory that bench.py reads)
  SPARK_GRAFT_CPUS     (default 32)
  SPARK_GRAFT_BENCH_RUNS  best-of-N (default 2)
  PLAN_TAG             suffix for plan files (default "before")
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def kg_pipeline(spark, sf_dir: str):
    """bench.py's staged-pipeline section: run_kg_pipeline over the sf_dir
    documents with the same config."""
    from pytorch_ie_spark.pipeline import KgPipelineConfig, run_kg_pipeline
    from pytorch_ie_spark.sources.readers import source_files_from_documents

    cfg = KgPipelineConfig(
        ner_model="gazetteer_ner",
        re_model="cooccurrence_re",
        max_candidate_distance=40,
        canonicalize=True,
    )
    return run_kg_pipeline(spark, source_files_from_documents(spark, sf_dir), cfg)


def main() -> None:
    parser = argparse.ArgumentParser(description="time registry queries")
    parser.add_argument("queries", nargs="*", help="query names (all if none)")
    parser.add_argument("--plans", metavar="DIR", help="dump each query's formatted plan into DIR")
    opts = parser.parse_args()
    args, plan_dir = opts.queries, opts.plans
    tag = os.environ.get("PLAN_TAG", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from pytorch_ie_spark.queries import QUERIES
    from pytorch_ie_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", cpus=cpus)
    builders = {name: fn for name, (fn, _oracle) in QUERIES.items()}
    builders["kg_pipeline"] = kg_pipeline
    names = args or list(QUERIES)
    unknown = [n for n in names if n not in builders]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if plan_dir:
        os.makedirs(plan_dir, exist_ok=True)
    timings: dict[str, float] = {}

    def drop_persisted_blocks() -> None:
        try:
            for r in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                r.unpersist(False)
        except Exception:
            pass

    for name in names:
        fn = builders[name]
        if plan_dir:
            df = fn(spark, sf_dir)
            plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plan_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)
            drop_persisted_blocks()
        best = None
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"{name}")
            t0 = time.monotonic()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                fn(spark, sf_dir).count()
            dt = time.monotonic() - t0
            if best is None or dt < best:
                best = dt
            drop_persisted_blocks()
        timings[name] = round(best, 3)
        print(f"{name}: {best:.3f}s", flush=True)

    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "runs": runs, "queries": timings}))


if __name__ == "__main__":
    main()
