"""Skew handling: salted repartitioning + size-bucketed coalescing.

The north_rule's skew sources at 10^12-file scale:
  - mega-repos: a single `repo` holding a large share of files makes any
    repo-keyed shuffle partition hot -> salt the key,
  - long files: a few documents dominating UDF wall time inside otherwise
    balanced partitions -> bucket by content length and range-partition so
    long docs spread across executors (and Arrow batches stay homogeneous,
    which also bounds padding waste in the model UDF).

AQE's skewJoin only rebalances *joins*; UDF-stage skew needs this explicit
treatment (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(
    df: DataFrame, key_col: str, num_salts: int = 16, num_partitions: int | None = None
) -> DataFrame:
    """Repartition on (key, deterministic salt) so one hot key spreads over
    `num_salts` partitions. Salt derives from a row-content hash, not rand(),
    so the layout is reproducible (checkpoint-resume safe)."""
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(num_salts)),
    )
    if num_partitions:
        out = salted.repartition(num_partitions, F.col(key_col), F.col("_salt"))
    else:
        out = salted.repartition(F.col(key_col), F.col("_salt"))
    return out.drop("_salt")


def size_bucketed(
    df: DataFrame,
    length_col,
    bucket_width: int = 1024,
    num_partitions: int | None = None,
) -> DataFrame:
    """Spread rows evenly across partitions, then sort each partition by a
    size bucket of `length_col` (expression ok): every partition gets an even
    share of work AND its Arrow batches are length-homogeneous, which bounds
    model-UDF padding waste.

    Hash-partition on the whole row + local sort by bucket, NOT
    repartitionByRange: the bucket value alone is low-cardinality (a handful
    of distinct lengths/1024), so range partitioning on it collapses the
    downstream UDF stage to #distinct-buckets tasks (3 tasks on 32 cores at
    sf0.1); range partitioning also runs a separate sampling job over the
    child plan — a second full pass at 100 TB. A key that pairs the bucket
    with a hash mod `parts` has only #buckets x parts distinct values, too
    few to hash evenly over `parts` partitions (16 values for 8 partitions
    left one empty and another with 2.7x the mean on a 600-document
    corpus). Identical rows share a partition. One shuffle, no sampling."""
    bucketed = df.withColumn(
        "_size_bucket", (length_col / F.lit(bucket_width)).cast("int")
    )
    parts = num_partitions or max(
        df.sparkSession.sparkContext.defaultParallelism * 2,
        df.rdd.getNumPartitions(),
    )
    out = (
        bucketed.repartition(parts, *[F.col(c) for c in df.columns])
        .sortWithinPartitions("_size_bucket")
    )
    return out.drop("_size_bucket")


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition only when the input is under-partitioned (e.g. a local
    single-row-group parquet file scanning as ONE task before a hash-heavy
    projection). On a real cluster the scan already yields thousands of
    partitions and this is a no-op — no gratuitous 100 TB shuffle."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
