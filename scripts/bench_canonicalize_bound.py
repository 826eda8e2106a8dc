"""Wall-clock evidence for canonicalize's driver bounds (DRIVER_SURFACES,
DRIVER_PAIRS).

Times `canonicalize_mentions` plus a noop write of its map on seeded
synthetic distinct-surface sets (families of near-duplicate names: typo,
deletion and suffix variants), once on the driver path and once on the
Spark path (DRIVER_SURFACES forced to 0), and prints one JSON line per
(set, path) with the median of `--reps` runs and the set's capped
candidate pairs (sum of C(n, 2) over the band buckets of at most 1000
members, `canonicalize_mentions`' default cap). The driver line runs with
DRIVER_SURFACES at `--bound` and DRIVER_PAIRS at `--pairs` (default: the
module's values), so a set above either times the bounded collect, the
driver MinHash and the Spark path. `groupN` adds N boilerplate surfaces
that share their band keys to a 3k-surface set: a pair-heavy set for
DRIVER_PAIRS. `--rounds` repeats every set, the path order alternating
from round to round; `--out` also writes all lines, with the machine, as
one JSON file.

Usage: python scripts/bench_canonicalize_bound.py [--reps 5] [--rounds 1]
       [--bound N] [--pairs N] [--out FILE] 10000 15000 group300
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import statistics
import sys
import time

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def families(n: int, rng: random.Random) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        base = " ".join(
            "".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 9)))
            for _ in range(rng.randint(1, 3))
        )
        out.add(base)
        for _ in range(rng.randint(0, 3)):
            i = rng.randrange(len(base))
            out.add(rng.choice([
                base[:i] + rng.choice(LETTERS) + base[i + 1:],
                base[:i] + base[i + 1:],
                base + rng.choice([" inc", " corp", " ltd", "s", " group"]),
            ]))
    return sorted(out)[:n]


def surface_set(name: str, seed: int) -> list[str]:
    rng = random.Random(seed)
    if not name.startswith("group"):
        return families(int(name), rng)
    prefix = " ".join(
        "".join(rng.choice(LETTERS) for _ in range(8)) for _ in range(6)
    )
    group = [f"{prefix} {i}" for i in range(int(name[5:]))]
    return group + families(3000, rng)


def capped_pairs(canon, surfaces: list[str]) -> int:
    """The set's candidate pairs under the default bucket cap; the
    synthetic surfaces are already in normalized form."""
    from pytorch_ie_spark.functions.hashing import char_shingles

    shingles = [char_shingles(s, 3) for s in sorted(set(surfaces))]
    return sum(
        len(m) * (len(m) - 1) // 2
        for m in canon._band_buckets(shingles)
        if len(m) <= 1000
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sets", nargs="+", help="a surface count or groupN")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--bound", type=int, default=None)
    ap.add_argument("--pairs", type=int, default=None)
    ap.add_argument("--out")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import pytorch_ie_spark.operators.canonicalize as canon
    from pytorch_ie_spark.session import get_spark

    spark = get_spark(app_name="bench_canonicalize_bound")
    spark.sparkContext.setLogLevel("ERROR")
    bound = canon.DRIVER_SURFACES if args.bound is None else args.bound
    pairs = canon.DRIVER_PAIRS if args.pairs is None else args.pairs
    canon.DRIVER_PAIRS = pairs
    paths = [("driver", bound), ("spark", 0)]
    lines = []
    for rnd in range(args.rounds):
        for name in args.sets:
            surfaces = surface_set(name, args.seed)
            mentions = spark.createDataFrame(
                [(f"m{i}", s) for i, s in enumerate(surfaces)],
                "mention_id string, surface string",
            ).localCheckpoint()
            n_pairs = capped_pairs(canon, surfaces)
            for path, surface_bound in paths if rnd % 2 == 0 else paths[::-1]:
                canon.DRIVER_SURFACES = surface_bound
                secs = []
                for _ in range(args.reps):
                    t = time.perf_counter()
                    mapped, _ = canon.canonicalize_mentions(mentions)
                    mapped.write.format("noop").mode("overwrite").save()
                    secs.append(time.perf_counter() - t)
                lines.append({
                    "round": rnd, "set": name, "surfaces": len(surfaces),
                    "pairs": n_pairs, "path": path,
                    "median_s": round(statistics.median(secs), 3),
                    "runs_s": [round(s, 3) for s in secs],
                })
                print(json.dumps(lines[-1]), flush=True)
    spark.stop()
    if args.out:
        with open(args.out, "w") as f:
            json.dump({
                "machine": {
                    "nproc": len(os.sched_getaffinity(0)),
                    "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                    "python": platform.python_version(),
                },
                "reps": args.reps,
                "driver_surfaces": bound,
                "driver_pairs": pairs,
                "runs": lines,
            }, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
