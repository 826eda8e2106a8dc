"""Incremental ingest: idempotent replay + only-new-units processing +
crash between data write and marker write (two-phase run-id commit)."""

from pyspark.sql import functions as F

from pytorch_ie_spark.plans.incremental import (
    ingest_increment,
    orphan_run_ids,
    read_triples,
)
from pytorch_ie_spark.sources.readers import source_files_from_documents


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
    audit = compact_triples(spark, out, dest, files_per_partition=1)
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
