"""Checkpoint-resume + per-partition lineage (BASELINE.json north_rule).

Every pipeline stage runs through ``run_stage``, a client of the two-phase
run-id commit in plans/incremental.py in which a stage is one unit keyed
by its name:

  - if the stage has a committed run, it is *not* recomputed — the
    pipeline resumes from that run's snapshot,
  - otherwise the stage builds and, under a fresh run_id, writes its
    snapshot to ``stages/<stage>/run_id=<id>/`` and one lineage row per
    output partition to ``lineage/run_id=<id>/``:
      (stage, partition_id, input_sha256_digest, row_count, triple_count,
       wall_time_s, ts)
    where triple_count is the row count on the ``triples`` stage and null
    on every other stage, and the digest is an order-independent XOR fold
    of per-row sha256 values (60-bit prefixes of the content_sha256 column,
    or of sha2(row, 256) when absent) — a true digest of the sha256 hashes,
    cheap at 100 TB (no sort, no collect). The stage's marker is written
    last, as the commit point: a crash before it leaves an orphan run that
    neither resume nor ``read_lineage`` sees, and the stage rebuilds.

Reference analog: the statistics mixin counters
(src/pytorch_ie/taskmodules/common/mixins.py:210-297) — promoted from
in-memory Counters to a durable, per-partition audit table.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental import (
    _commit_units,
    _committed_run,
    _new_run_id,
    _run_path,
    _write_run,
    read_committed_rows,
)


def partition_lineage(
    df: DataFrame, stage: str, wall_time_s: float, digest_col: str | None = "content_sha256"
) -> DataFrame:
    """One row per Spark partition of `df` with an order-independent digest
    of the partition's sha256 values (XOR of 60-bit sha256 prefixes — the
    column name says sha256, so the fold input really is sha256).
    `triple_count` is set on the ``triples`` stage only."""
    if digest_col and digest_col in df.columns:
        sha = F.col(digest_col)
    else:
        sha = F.sha2(
            F.concat_ws("|", *[F.col(c).cast("string") for c in df.columns]), 256
        )
    with_pid = df.select(
        F.spark_partition_id().alias("partition_id"),
        # first 15 hex chars = 60 bits: sign-safe in a LONG for bit_xor
        F.conv(F.substring(sha, 1, 15), 16, 10).cast("long").alias("_h"),
    )
    ts = datetime.now(timezone.utc).isoformat()
    return (
        with_pid.groupBy("partition_id")
        .agg(
            F.lpad(
                F.conv(F.bit_xor("_h").cast("string"), 10, 16), 15, "0"
            ).alias("input_sha256_digest"),
            F.count(F.lit(1)).alias("row_count"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("int"),
            "input_sha256_digest",
            F.col("row_count").cast("long"),
            (F.col("row_count") if stage == "triples" else F.lit(None))
            .cast("long")
            .alias("triple_count"),
            F.lit(float(wall_time_s)).alias("wall_time_s"),
            F.lit(ts).alias("ts"),
        )
    )


def run_stage(
    spark: SparkSession,
    ckpt_dir: str,
    stage: str,
    build: Callable[[], DataFrame],
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Build-or-resume a stage snapshot with lineage, committed as one unit."""
    data_name = os.path.join("stages", stage)
    run_id = _committed_run(spark, ckpt_dir, stage)
    if run_id is None:
        run_id = _new_run_id()
        t0 = time.monotonic()
        path = _write_run(build(), ckpt_dir, data_name, run_id, partition_cols)
        wall = time.monotonic() - t0
        lineage = partition_lineage(spark.read.parquet(path), stage, wall)
        _write_run(lineage, ckpt_dir, "lineage", run_id)
        _commit_units(
            spark.range(1).select(F.lit(stage).alias("unit_key")), ckpt_dir, run_id
        )
    return spark.read.parquet(_run_path(ckpt_dir, data_name, run_id))


def read_lineage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Lineage rows of committed stage runs only."""
    return read_committed_rows(spark, ckpt_dir, "lineage")
