"""Incremental ingest: idempotent replay + only-new-units processing +
crash between data write and marker write (two-phase run-id commit)."""

import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from pytorch_ie_spark.plans.incremental import (
    ingest_increment,
    orphan_run_ids,
    read_triples,
)
from pytorch_ie_spark.sources.readers import (
    documents_from_source_files,
    source_files_from_documents,
)


@contextmanager
def _job_group(spark):
    """Yields a list that holds, once the block exits, the ids of the Spark
    jobs the block ran."""
    sc = spark.sparkContext
    group = "test-" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    jobs = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _pinned_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_incremental_ingest_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "kg")
    src = source_files_from_documents(spark, sf_dir)
    first_half = src.where(F.crc32("path") % 2 == 0)

    r1 = ingest_increment(spark, first_half, out)
    assert r1["processed_units"] > 0
    t1 = read_triples(spark, out).count()

    # replaying the same input is a no-op
    r2 = ingest_increment(spark, first_half, out)
    assert r2 == {"processed_units": 0, "new_triples": 0}
    assert read_triples(spark, out).count() == t1

    # the full corpus only processes the other half
    r3 = ingest_increment(spark, src, out)
    assert 0 < r3["processed_units"] < src.count()
    assert r3["processed_units"] + r1["processed_units"] == src.count()
    t3 = read_triples(spark, out).count()
    assert t3 > t1
    # new_triples reports the increment, not the on-disk total
    assert r3["new_triples"] == t3 - t1


def test_crash_between_data_and_markers_is_invisible(spark, sf_dir, tmp_path):
    """A crash after the triple append but before the marker write leaves
    phase-1 data with no commit record. That orphan data must be invisible
    to readers, the units must stay pending, and the replay must not
    produce duplicate triples in the committed view."""
    import os

    from pytorch_ie_spark.operators.extract import (
        extract_triples_fused,
        fused_triples,
    )
    from pytorch_ie_spark.sources.readers import documents_from_source_files

    out = str(tmp_path / "kg")
    src = source_files_from_documents(spark, sf_dir).limit(20)

    # reproduce the exact post-crash disk state: phase-1 data written under
    # a run_id that never got its markers
    docs = documents_from_source_files(src)
    orphan = fused_triples(extract_triples_fused(docs)).withColumn(
        "run_id", F.lit("deadbeefcrashrun")
    )
    orphan.write.mode("append").partitionBy("run_id", "pred").parquet(
        f"{out}/triples"
    )

    assert orphan_run_ids(spark, out) == ["deadbeefcrashrun"]
    assert not os.path.exists(f"{out}/_processed_units")
    # readers see nothing: no run is committed yet
    assert read_triples(spark, out).count() == 0

    # replay: all units still pending, processed exactly once; the committed
    # view contains only the replay's triples even though the orphan run's
    # rows are physically present in the directory
    r = ingest_increment(spark, src, out)
    assert r["processed_units"] == src.count()
    assert read_triples(spark, out).count() == r["new_triples"]
    # replaying again is a no-op
    assert ingest_increment(spark, src, out) == {
        "processed_units": 0,
        "new_triples": 0,
    }


def test_compact_triples_rewrites_small_files(spark, sf_dir, tmp_path):
    """After several increments the committed view reads many small files;
    the compacted snapshot must hold the identical rows in far fewer files
    and leave the ingest dir untouched."""
    from pytorch_ie_spark.plans.incremental import compact_triples

    out = str(tmp_path / "kg")
    dest = str(tmp_path / "kg_compacted")
    src = source_files_from_documents(spark, sf_dir)
    # three increments -> three run_id partitions of small files
    for k in (0, 1, 2):
        ingest_increment(spark, src.where(F.crc32("path") % 3 == k), out)

    before = read_triples(spark, out)
    rows_before = sorted(map(tuple, before.collect()))
    with _job_group(spark) as jobs:
        audit = compact_triples(spark, out, dest, files_per_partition=1)
    # the row count is observed on the rewrite, not read back from dest
    assert len(jobs) <= 6, jobs
    after = spark.read.parquet(dest)
    assert sorted(map(tuple, after.select(*before.columns).collect())) == rows_before
    assert audit["rows"] == len(rows_before)
    assert audit["files_after"] < audit["files_before"]
    # one file per pred partition
    import glob as _glob
    for pred_dir in _glob.glob(f"{dest}/pred=*"):
        files = [f for f in _glob.glob(f"{pred_dir}/*.parquet")]
        assert len(files) == 1, pred_dir
    # ingest dir untouched: replay still a no-op
    assert ingest_increment(spark, src, out)["processed_units"] == 0


def test_all_digit_run_id_reads_back(spark, sf_dir, tmp_path, monkeypatch):
    """A uuid whose leading hex chars are all digits must still give a run
    id that partition discovery reads as a string. Here the triples sit
    under one run dir and a second, empty increment commits another run:
    a run dir named run_id=0123456789012345 would be inferred as a number
    (dropping its leading zero), and the join against the committed
    run_id abcdef0123456789 would fail under ANSI casts."""
    import uuid

    from pytorch_ie_spark.plans import incremental

    draws = iter(["0123456789012345" + "0" * 16, "abcdef0123456789" + "0" * 16])
    monkeypatch.setattr(
        incremental.uuid, "uuid4", lambda: uuid.UUID(hex=next(draws))
    )
    out = str(tmp_path / "kg")
    src = source_files_from_documents(spark, sf_dir)
    first = ingest_increment(spark, src.where(F.crc32("path") % 2 == 0), out)
    assert first["new_triples"] > 0
    triples = read_triples(spark, out)
    empty = ingest_increment(
        spark, src, out, build_rows=lambda pending: triples.limit(0)
    )
    assert empty["processed_units"] > 0 and empty["new_triples"] == 0
    assert read_triples(spark, out).count() == first["new_triples"]


def test_increment_pins_pending_once(spark, sf_dir, tmp_path):
    """An increment computes its pending set once, probes it for emptiness
    and counts its rows on the writes: the second increment runs at most 7
    Spark jobs only if the probe, the data write and the marker write share
    one source scan and marker anti-join, nothing written is read back and
    no shuffle dedups the markers; the first, with no marker table yet, at
    most 5 (no join against the empty marker frame); a no-op replay at
    most 2. The pinned pending set is released after a commit, after a
    no-op replay and after a build_rows that raises."""
    out = str(tmp_path / "kg")
    src = source_files_from_documents(spark, sf_dir)
    first, second = (src.where(F.crc32("path") % 2 == k) for k in (0, 1))
    pinned = _pinned_rdds(spark)

    with _job_group(spark) as jobs:
        r1 = ingest_increment(spark, first, out)
    assert len(jobs) <= 5, jobs
    assert not _pinned_rdds(spark) - pinned
    with _job_group(spark) as jobs:
        r2 = ingest_increment(spark, second, out)
    assert len(jobs) <= 7, jobs
    assert not _pinned_rdds(spark) - pinned
    assert r1["processed_units"] + r2["processed_units"] == src.count()
    assert read_triples(spark, out).count() == r1["new_triples"] + r2["new_triples"]

    with _job_group(spark) as jobs:
        assert ingest_increment(spark, src, out)["processed_units"] == 0
    assert len(jobs) <= 2, jobs
    assert not _pinned_rdds(spark) - pinned

    def failing_build(pending):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        ingest_increment(spark, src, str(tmp_path / "kg2"), build_rows=failing_build)
    assert not _pinned_rdds(spark) - pinned


def test_orphan_run_ids_of_any_dataset(spark, sf_dir, tmp_path):
    """orphan_run_ids lists the crashed runs of the dataset it is given:
    here a doc_labels out_dir (as the doc-label stream writes it) with one
    committed run and one planted run that never got its markers."""
    from pytorch_ie_spark.operators.doc_classify import classify_documents

    def labels(pending):
        return classify_documents(documents_from_source_files(pending))

    out = str(tmp_path / "labels")
    src = source_files_from_documents(spark, sf_dir)
    ingest_increment(
        spark, src.limit(10), out, build_rows=labels,
        data_name="doc_labels", data_partition_col="label",
    )
    labels(src.limit(5)).write.partitionBy("label").parquet(
        f"{out}/doc_labels/run_id=rcrashedlabels"
    )
    assert orphan_run_ids(spark, out, "doc_labels") == ["rcrashedlabels"]
