"""Plan audits: the scale claims as assertions on the physical plan.

These guard the properties the 100 TB design depends on — a regression
that silently introduces a cartesian product or drops a broadcast shows
up here, not in a correctness diff."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.01"


def test_no_cartesian_products_anywhere(spark, sf001):
    """No registry query may plan a CartesianProduct or a
    BroadcastNestedLoopJoin with a non-trivial condition-free cross."""
    from pytorch_ie_spark.queries import QUERIES

    offenders = []
    for name, (fn, _o) in QUERIES.items():
        plan = _plan(fn(spark, sf001))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == [], f"cartesian products in: {offenders}"


def test_entity_linking_broadcasts_the_dictionary(spark, sf001):
    from pytorch_ie_spark.queries import q_kg_entity_linking

    plan = _plan(q_kg_entity_linking(spark, sf001))
    assert "BroadcastHashJoin" in plan


def test_mentions_scan_prunes_columns(spark, sf001):
    """The documents scan for mention detection must read only the columns
    the query needs (doc_id, text) — not lang/source/n_chars. Asserted on
    the UNPINNED mention frame: the shared pinned one hides its lineage
    behind a Scan ExistingRDD node."""
    from pytorch_ie_spark.queries import _mentions_df_unpinned

    plan = _plan(_mentions_df_unpinned(spark, sf001))
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines
    for l in scan_lines:
        assert "lang" not in l and "n_chars" not in l


def test_tpch_filter_pushdown(spark, sf001):
    """tpch_big_orders' predicate must reach the parquet scan as a pushed
    filter, not a post-scan Filter only."""
    from pytorch_ie_spark.queries import q_tpch_big_orders

    import re

    plan = _plan(q_tpch_big_orders(spark, sf001))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and any(p.strip() for p in pushed), plan[:500]


def test_ivf_probes_are_broadcast(spark, sf001):
    from pytorch_ie_spark.queries import q_ann_ivf

    plan = _plan(q_ann_ivf(spark, sf001))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_mention_stage_has_no_range_sampling(spark, sf001):
    """detect_mentions is one mapInPandas over its input: no Exchange and no
    RangePartitioning above the documents (a RangePartitioner's sampling
    job would execute the Python stage a second time, and any shuffle would
    ship token arrays or mention rows between stages)."""
    from pytorch_ie_spark.operators.mentions import detect_mentions
    from pytorch_ie_spark.sources.readers import read_table

    docs = read_table(spark, sf001, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        F.sha2("text", 256).alias("content_sha256"),
    )
    plan = _plan(detect_mentions(docs))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "rangepartitioning" not in plan.lower(), plan


def test_mentions_lineage_scan_is_parallel(spark, sf001):
    """The single-row-group documents parquet plans as ONE scan task; every
    mention-derived lineage (candidate pairs, reversed relations, pointer/
    seq2seq round-trips) must fan it out BEFORE the aggregate-HOF mention
    projection, or the whole chain materializes on one core the first time
    a checkpoint touches it (the round-3 kg_reversed_relations defect)."""
    from pytorch_ie_spark.queries import _mentions_df_unpinned, mentions_df

    m = mentions_df(spark, sf001)
    target = spark.sparkContext.defaultParallelism
    # the pinned frame KEEPS the fan-out's partitioning
    assert m.rdd.getNumPartitions() >= min(target, 8)
    # and the exchange sits in the (unpinned) lineage the lazy checkpoint
    # materializes — round-robin repartition before the HOF
    assert "roundrobinpartitioning" in _plan(
        _mentions_df_unpinned(spark, sf001)
    ).lower()


def test_contamination_broadcasts_benchmark_grams(spark, sf001):
    """The benchmark gram index must broadcast — the corpus side must not
    shuffle on gram."""
    from pytorch_ie_spark.queries import q_text_contamination

    plan = _plan(q_text_contamination(spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_broadcasts_document_frequencies(spark, sf001):
    """The vocabulary-sized df table must broadcast into the tf join."""
    from pytorch_ie_spark.queries import q_text_tfidf

    plan = _plan(q_text_tfidf(spark, sf001))
    assert "BroadcastHashJoin" in plan
