"""Checkpoint-resume + lineage (north_rule: per-partition lineage rows,
resumable stages committed exactly once)."""

import os

import pytest
from pyspark.sql import functions as F

from pytorch_ie_spark import pipeline
from pytorch_ie_spark.corpus import fixture_source_files
from pytorch_ie_spark.plans import lineage
from pytorch_ie_spark.plans.incremental import committed_run_ids
from pytorch_ie_spark.plans.lineage import read_lineage, run_stage
from pytorch_ie_spark.plans.skew import salted_repartition, size_bucketed

STAGES = {"documents", "mentions", "relations", "triples"}


def test_run_stage_writes_and_resumes(spark, tmp_path):
    ckpt = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn(
            "content_sha256", F.sha2(F.col("id").cast("string"), 256)
        )

    df1 = run_stage(spark, ckpt, "stage_a", build)
    assert df1.count() == 100
    assert calls["n"] == 1
    assert committed_run_ids(spark, ckpt).count() == 1
    # resume: build NOT called again
    df2 = run_stage(spark, ckpt, "stage_a", build)
    assert df2.count() == 100
    assert calls["n"] == 1


def test_lineage_rows_shape(spark, tmp_path):
    ckpt = str(tmp_path)
    for stage, n in (("s1", 50), ("triples", 30)):
        run_stage(
            spark,
            ckpt,
            stage,
            lambda n=n: spark.range(n).withColumn(
                "content_sha256", F.sha2(F.col("id").cast("string"), 256)
            ),
        )
    lin = read_lineage(spark, ckpt)
    rows = lin.collect()
    assert {r["stage"] for r in rows} == {"s1", "triples"}
    s1 = [r for r in rows if r["stage"] == "s1"]
    assert sum(r["row_count"] for r in s1) == 50
    # triple_count is only meaningful on the triples stage
    assert all(r["triple_count"] is None for r in s1)
    triples = [r for r in rows if r["stage"] == "triples"]
    assert sum(r["row_count"] for r in triples) == 30
    assert all(r["triple_count"] == r["row_count"] for r in triples)
    assert all(r["stage_wall_time_s"] >= 0 for r in rows)
    assert all(r["input_sha256_digest"] for r in rows)
    assert set(lin.columns) == {
        "stage",
        "partition_id",
        "input_sha256_digest",
        "row_count",
        "triple_count",
        "stage_wall_time_s",
        "ts",
    }


def _counting_run_stage(built: list):
    """run_stage that records the name of every stage it actually builds."""

    def run(spark, ckpt_dir, name, build, partition_cols=None):
        def counted():
            built.append(name)
            return build()

        return run_stage(spark, ckpt_dir, name, counted, partition_cols)

    return run


def _one_lineage_set_per_stage(spark, ckpt):
    """Stage -> its lineage ts, asserting each stage has exactly one set."""
    rows = read_lineage(spark, ckpt).collect()
    ts = {}
    for r in rows:
        ts.setdefault(r["stage"], set()).add(r["ts"])
    assert set(ts) == STAGES
    assert all(len(v) == 1 for v in ts.values()), ts
    pids = [(r["stage"], r["partition_id"]) for r in rows]
    assert len(pids) == len(set(pids))
    return {k: v.pop() for k, v in ts.items()}


def _run(spark, ckpt):
    triples = pipeline.run_kg_pipeline(
        spark, fixture_source_files(spark), pipeline.KgPipelineConfig(), ckpt_dir=ckpt
    )
    return sorted(map(tuple, triples.collect()))


def test_uri_checkpoint_resumes(spark, tmp_path, monkeypatch):
    """A file:// checkpoint dir resumes like a plain path: the second run
    builds no stage and the lineage holds one set per stage."""
    ckpt = "file://" + str(tmp_path / "ckpt")
    built = []
    monkeypatch.setattr(pipeline, "run_stage", _counting_run_stage(built))
    first = _run(spark, ckpt)
    assert sorted(built) == sorted(STAGES)
    built.clear()
    assert _run(spark, ckpt) == first
    assert built == []
    _one_lineage_set_per_stage(spark, ckpt)


def test_crash_before_stage_marker_is_invisible(spark, tmp_path, monkeypatch):
    """Raise at the relations stage's marker write, after its snapshot and
    lineage are on disk, then rerun on the same ckpt_dir: the finished
    stages resume, the crashed run stays on disk but no reader sees it, and
    the triples equal an uncrashed run's."""
    clean = _run(spark, str(tmp_path / "clean"))
    ckpt = str(tmp_path / "ckpt")
    crashed = []
    commit = lineage._commit_units

    def crash_once(unit_keys, out_dir, run_id):
        if not crashed and unit_keys.first()["unit_key"] == "relations":
            crashed.append(run_id)
            raise RuntimeError("injected crash before the stage marker")
        commit(unit_keys, out_dir, run_id)

    monkeypatch.setattr(lineage, "_commit_units", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, ckpt)
    orphan = f"run_id={crashed[0]}"
    assert os.listdir(os.path.join(ckpt, "stages", "relations")) == [orphan]
    assert orphan in os.listdir(os.path.join(ckpt, "lineage"))
    assert committed_run_ids(spark, ckpt).count() == 2

    built = []
    monkeypatch.setattr(pipeline, "run_stage", _counting_run_stage(built))
    assert _run(spark, ckpt) == clean
    assert sorted(built) == ["relations", "triples"]
    assert orphan in os.listdir(os.path.join(ckpt, "stages", "relations"))
    orphan_ts = spark.read.parquet(os.path.join(ckpt, "lineage", orphan)).first()["ts"]
    assert _one_lineage_set_per_stage(spark, ckpt)["relations"] != orphan_ts


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.createDataFrame([("hot", i) for i in range(1000)], "k string, v int")
    out = salted_repartition(df, "k", num_salts=8, num_partitions=8)
    sizes = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    # a single hot key must land on >1 partition
    assert len(sizes) > 1
    assert out.count() == 1000


def test_size_bucketed_partitions_by_length(spark):
    df = spark.createDataFrame(
        [(i, "x" * (10 if i % 2 == 0 else 5000)) for i in range(100)],
        "id int, text string",
    )
    out = size_bucketed(df, F.length("text"), bucket_width=1024, num_partitions=4)
    assert out.count() == 100
    assert "_size_bucket" not in out.columns


def test_size_bucketed_gives_every_partition_an_even_share(spark):
    """600 rows in two size buckets over 8 partitions: no partition is
    empty and none holds more than 1.5x the mean; each partition is sorted
    by size bucket."""
    df = spark.createDataFrame(
        [(f"doc{i}", "x" * (100 if i % 3 else 3000)) for i in range(600)],
        "doc_id string, text string",
    )
    out = size_bucketed(df, F.length("text"), bucket_width=1024, num_partitions=8)
    rows = out.select(F.spark_partition_id().alias("p"), F.length("text").alias("n")).collect()
    sizes = [sum(1 for r in rows if r["p"] == p) for p in range(8)]
    assert min(sizes) > 0 and max(sizes) <= 1.5 * 600 / 8, sizes
    for p in range(8):
        lengths = [r["n"] // 1024 for r in rows if r["p"] == p]
        assert lengths == sorted(lengths)
