"""Two-phase run-id commit: the one commit protocol of the package.

A *unit* is work that is done at most once per out_dir. Incremental ingest
has one unit per (repo, path, commit) source file, so a failed or partial
run can be re-submitted without reprocessing completed units
(checkpoint-resume at 10^12-file scale); a checkpointed pipeline stage
(plans/lineage.run_stage) is one unit keyed by its stage name. Every run
commits the same way:

  1. phase 1 (`_write_run`): each dataset the run produces goes under
     ``<out_dir>/<dataset>/run_id=<id>/`` — data first,
  2. phase 2 (`_commit_units`): one ``(unit_key, run_id)`` marker per unit
     is appended to ``<out_dir>/_processed_units`` ONLY after every phase-1
     write succeeded — the marker write is the commit point,
  3. readers (`read_committed_rows`) only see data whose run_id appears in
     the marker table, so a crash between (1) and (2) leaves invisible
     orphan data and still-pending units: the replay reprocesses them under
     a new run_id with no duplicate rows observable. `orphan_run_ids`
     surfaces leftovers for cleanup.

The completed-unit set is the marker table itself, so documents that
legitimately produce zero triples aren't reprocessed forever. Every path
check goes through the Hadoop FileSystem of the path, so local paths,
``file://`` URIs, HDFS and S3A out_dirs behave alike.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_triples_fused, fused_triples
from ..sources.readers import documents_from_source_files


def _processed_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_processed_units")


def _data_path(out_dir: str, data_name: str) -> str:
    return os.path.join(out_dir, data_name)


def _run_path(out_dir: str, data_name: str, run_id: str) -> str:
    return os.path.join(_data_path(out_dir, data_name), f"run_id={run_id}")


def _unit_key_col():
    return F.concat_ws("@", F.concat_ws("/", "repo", "path"), "commit")


def _new_run_id() -> str:
    return uuid.uuid4().hex[:16]


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for whatever store `path_str` lives on — local,
    HDFS, or S3A. All path discovery goes through this instead of
    driver-local glob/os.path, which silently return nothing for remote
    out_dirs."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _glob_dirs(spark: SparkSession, pattern: str) -> list[str]:
    fs, hpath = _hadoop_fs(spark, pattern)
    statuses = fs.globStatus(hpath)
    if statuses is None:
        return []
    return sorted(str(s.getPath()) for s in statuses)


def _path_exists(spark: SparkSession, path_str: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path_str)
    return bool(fs.exists(hpath))


def _write_run(
    df: DataFrame,
    out_dir: str,
    data_name: str,
    run_id: str,
    partition_cols: list[str] | None = None,
) -> str:
    """Phase 1: write `df` under ``<out_dir>/<data_name>/run_id=<run_id>/``,
    invisible to readers until the run commits. Returns that directory."""
    path = _run_path(out_dir, data_name, run_id)
    writer = df.write
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    return path


def _commit_units(unit_keys: DataFrame, out_dir: str, run_id: str) -> None:
    """Phase 2, the commit point: one (unit_key, run_id) marker per unit."""
    (
        unit_keys.select("unit_key")
        .dropDuplicates(["unit_key"])
        .withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .parquet(_processed_path(out_dir))
    )


def _marker_table(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The (unit_key, run_id) commit record, or None before the first commit."""
    ppath = _processed_path(out_dir)
    if not _path_exists(spark, ppath):
        return None
    return spark.read.parquet(ppath)


def _committed_run(spark: SparkSession, out_dir: str, unit_key: str) -> str | None:
    """The run that committed `unit_key`, or None while the unit is pending
    (the smallest run_id, should concurrent writers both have committed)."""
    markers = _marker_table(spark, out_dir)
    if markers is None:
        return None
    return markers.where(F.col("unit_key") == unit_key).agg(F.min("run_id")).first()[0]


def _raw_rows(spark: SparkSession, out_dir: str, data_name: str) -> DataFrame:
    """All physical rows of a dataset, committed or not, with a run_id
    column."""
    path = _data_path(out_dir, data_name)
    runs = _glob_dirs(spark, os.path.join(path, "run_id=*"))
    if not runs:
        # no run at all: surface the same error a direct read would
        return spark.read.parquet(path)
    return spark.read.option("basePath", path).parquet(*runs)


def pending_source_files(
    spark: SparkSession, source_files: DataFrame, out_dir: str
) -> DataFrame:
    """Anti-join the source against already-processed unit keys."""
    markers = _marker_table(spark, out_dir)
    if markers is None:
        return source_files
    done = markers.select("unit_key")
    keyed = source_files.withColumn("unit_key", _unit_key_col())
    return keyed.join(done, "unit_key", "left_anti").drop("unit_key")


def committed_run_ids(spark: SparkSession, out_dir: str) -> DataFrame:
    """(run_id) of runs whose marker write completed — the commit record."""
    markers = _marker_table(spark, out_dir)
    if markers is None:
        return spark.createDataFrame([], "run_id string")
    return markers.select("run_id").dropDuplicates(["run_id"])


def ingest_increment(
    spark: SparkSession,
    source_files: DataFrame,
    out_dir: str,
    ner_model: str = "gazetteer_ner",
    re_model: str = "cooccurrence_re",
    max_distance: int = 40,
    build_rows=None,
    data_name: str = "triples",
    data_partition_col: str = "pred",
) -> dict:
    """Process only pending units; stage rows under a run_id, then commit
    by writing the unit markers (see module docstring for the crash story).

    The two-phase machinery is dataset-generic: `build_rows` maps the
    pending source-file rows to the dataset rows (default: the fused
    triple extractor), staged under `<out_dir>/<data_name>/run_id=*/
    <data_partition_col>=*`. One out_dir hosts ONE dataset — the unit
    markers record source progress for that dataset only.

    Returns {'processed_units': n, 'new_triples': n} where new_triples is
    the count of THIS increment's rows (not the on-disk total) — zeros
    when the run is a no-op replay (idempotency)."""
    if build_rows is None:
        def build_rows(pending_src: DataFrame) -> DataFrame:
            return fused_triples(
                extract_triples_fused(
                    documents_from_source_files(pending_src),
                    ner_model=ner_model,
                    re_model=re_model,
                    max_distance=max_distance,
                )
            )

    pending = pending_source_files(spark, source_files, out_dir)
    n_units = pending.count()
    if n_units == 0:
        return {"processed_units": 0, "new_triples": 0}
    run_id = _new_run_id()
    run_dir = _write_run(
        build_rows(pending), out_dir, data_name, run_id, [data_partition_col]
    )
    # count the increment from what THIS run wrote — its own directory, not
    # the whole dataset: inside a foreachBatch sink the latter would re-list
    # every earlier run each micro-batch. An all-empty increment leaves only
    # Spark's hidden commit files behind, so glob past "_" and "." names.
    if _glob_dirs(spark, os.path.join(run_dir, "[!_.]*")):
        n_rows = spark.read.parquet(run_dir).count()
    else:
        n_rows = 0
    _commit_units(
        pending.select(_unit_key_col().alias("unit_key")), out_dir, run_id
    )
    return {"processed_units": n_units, "new_triples": n_rows}


def read_committed_rows(
    spark: SparkSession,
    out_dir: str,
    data_name: str = "triples",
    data_partition_col: str = "pred",
) -> DataFrame:
    """Committed rows of a two-phase dataset (see ingest_increment's
    build_rows): data whose run_id has markers; orphan data from a crashed
    run is filtered out — the run-id set is tiny, so the semi join is a
    broadcast. Partition columns such as `data_partition_col` come back
    from the directory layout."""
    return (
        _raw_rows(spark, out_dir, data_name)
        .join(F.broadcast(committed_run_ids(spark, out_dir)), "run_id", "left_semi")
        .drop("run_id")
    )


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed triples only (see read_committed_rows)."""
    return read_committed_rows(spark, out_dir)


def compact_triples(
    spark: SparkSession,
    out_dir: str,
    dest_dir: str,
    files_per_partition: int = 1,
) -> dict:
    """Iceberg-style rewrite_data_files for the triple table: every
    incremental run appends its own small files under a fresh run_id
    partition, so after many increments the committed view reads hundreds
    of tiny files — the classic small-file problem. This rewrites the
    COMMITTED triples (orphans excluded, run_id dropped) into a plain
    pred-partitioned snapshot at `dest_dir`, `files_per_partition` files
    per pred value (bounded deterministic salt; raise it for partitions
    larger than one task should hold). The ingest dir is left untouched —
    the snapshot is a read-optimized copy, exactly like an Iceberg rewrite
    producing a new snapshot without disturbing writers.

    Returns {'files_before': n, 'files_after': n, 'rows': n} for lineage.
    """
    t = read_triples(spark, out_dir)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in t.columns]),
        F.lit(max(1, files_per_partition)),
    )
    (
        t.repartition(F.col("pred"), salt)
        .write.mode("overwrite")
        .partitionBy("pred")
        .parquet(dest_dir)
    )

    def _parquet_files(root: str) -> int:
        fs, hpath = _hadoop_fs(spark, root)
        if not fs.exists(hpath):
            return 0
        it = fs.listFiles(hpath, True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    return {
        "files_before": _parquet_files(_data_path(out_dir, "triples")),
        "files_after": _parquet_files(dest_dir),
        "rows": spark.read.parquet(dest_dir).count(),
    }


def orphan_run_ids(spark: SparkSession, out_dir: str) -> list[str]:
    """run_ids with data on disk but no commit markers (crashed runs) —
    their directories can be deleted at leisure; readers never see them."""
    data_runs = (
        _raw_rows(spark, out_dir, "triples").select("run_id").dropDuplicates(["run_id"])
    )
    committed = committed_run_ids(spark, out_dir)
    return [
        r["run_id"]
        for r in data_runs.join(committed, "run_id", "left_anti").collect()
    ]
