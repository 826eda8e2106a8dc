"""read_table: a local parquet file unchanged since an earlier read is
scanned with the schema inferred then, so building its plan runs no Spark
job; a rewritten file is inferred again."""

import os

from pytorch_ie_spark.sources.readers import read_table
from tests.test_incremental import _job_group


def test_read_table_reuses_the_schema_of_an_unchanged_file(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    spark.range(5).selectExpr("id", "cast(id as string) AS text").coalesce(1).write.parquet(
        str(tmp_path / "_out")
    )
    (part,) = [f for f in os.listdir(tmp_path / "_out") if f.endswith(".parquet")]
    os.rename(tmp_path / "_out" / part, path)

    read_table(spark, str(tmp_path), "docs")
    with _job_group(spark) as jobs:
        again = read_table(spark, str(tmp_path), "docs")
    assert jobs == []
    assert again.columns == ["id", "text"] and again.count() == 5

    # the same file rewritten with one more column: inferred anew
    spark.read.parquet(path).selectExpr("*", "id * 2 AS twice").coalesce(1).write.parquet(
        str(tmp_path / "_out2")
    )
    (part,) = [f for f in os.listdir(tmp_path / "_out2") if f.endswith(".parquet")]
    os.replace(tmp_path / "_out2" / part, path)
    wider = read_table(spark, str(tmp_path), "docs")
    assert wider.columns == ["id", "text", "twice"]
    assert sorted(r["twice"] for r in wider.collect()) == [0, 2, 4, 6, 8]
