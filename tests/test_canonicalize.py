"""Canonicalization: MinHash-LSH blocking + connected components
(FIXTURES.md §4 canonicalization fixture)."""

import random

import pytest
from pyspark.sql import functions as F

from pytorch_ie_spark.operators.canonicalize import (
    _driver_side_components,
    canonicalize_mentions,
    connected_components,
    link_entities,
    lsh_candidate_edges,
    normalize_surface,
)
from pytorch_ie_spark.operators.mentions import detect_mentions
from pytorch_ie_spark.operators.triples import relations_to_triples
from pytorch_ie_spark.sources.readers import (
    documents_from_source_files,
    source_files_from_documents,
)
from tests.test_incremental import _job_group


def _mentions(spark, surfaces):
    rows = [
        (f"d{i}", f"m{i}", 0, len(s), "ORG", s, 1.0, "pred", None)
        for i, s in enumerate(surfaces)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, mention_id string, start int, end int, label string, "
        "surface string, score double, source string, content_sha256 string",
    )


def test_normalize_surface(spark):
    df = spark.createDataFrame([("  IndieBio,  Inc. ",)], "s string")
    assert df.select(normalize_surface(F.col("s")).alias("n")).collect()[0]["n"] == "indiebio inc"


def test_lsh_blocks_near_duplicates(spark):
    surfaces = spark.createDataFrame(
        [("indiebio",), ("indiebio inc",), ("acme corp",), ("acme corporation",)],
        "surface_norm string",
    )
    # band_size=2 (8 bands) so a jaccard-0.5 pair is a near-certain candidate;
    # with the default 4-row bands LSH correctly may skip it (~23% hit rate)
    edges = lsh_candidate_edges(surfaces, jaccard_threshold=0.4, band_size=2)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert ("acme corp", "acme corporation") in got
    assert ("indiebio", "indiebio inc") in got
    # disjoint clusters never pair
    assert not any("acme" in a and "indie" in b for a, b in got)
    assert not any("indie" in a and "acme" in b for a, b in got)


def test_connected_components_chain_and_island(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    comps = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_distributed_path_matches_driver(spark):
    """Force the distributed min-propagation branch (driver_threshold=0) and
    assert identical components to the driver-side union-find."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("m", "n"), ("n", "m")],
        "src string, dst string",
    )
    distributed = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    driver = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=10**6).collect()
    }
    assert distributed == driver
    assert distributed["d"] == "a" and distributed["y"] == "x" and distributed["n"] == "m"


@pytest.mark.parametrize("driver_threshold", [0, 100_000])
def test_component_label_is_min_member(spark, driver_threshold):
    """On both CC paths (star rounds, driver union-find) every component is
    labelled with its minimum member, which canonicalize_mentions uses as
    the canonical surface without recomputing it."""
    rng = random.Random(11)
    rows = [tuple(f"v{x:02d}" for x in rng.sample(range(40), 2)) for _ in range(30)]
    comps = connected_components(
        spark.createDataFrame(rows, "src string, dst string"),
        driver_threshold=driver_threshold,
    ).collect()
    label = {r["node"]: r["component"] for r in comps}
    assert all(label[a] == label[b] for a, b in rows)
    for c in set(label.values()):
        assert c == min(n for n, l in label.items() if l == c)


def test_driver_side_components_is_a_local_relation(spark):
    """The driver-side component map plans as a LocalRelation (Arrow-built),
    not a pickled Python RDD, with or without edges."""
    df = _driver_side_components(spark, [("c", "b"), ("b", "a"), ("x", "y")])
    assert "LocalRelation" in df._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, df.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")
    ]
    empty = _driver_side_components(spark, [])
    assert empty.schema.simpleString() == "struct<node:string,component:string>"
    assert empty.count() == 0


def test_canonicalize_job_bound(spark, sf_dir):
    """canonicalize_mentions plus a count of its map runs at most 13 Spark
    jobs on the sf0.001 mentions: the component map is a LocalRelation
    (no Python-RDD jobs), one bounded collect is both the CC size probe and
    the edge list, and no aggregate recomputes the canonical surface."""
    docs = documents_from_source_files(source_files_from_documents(spark, sf_dir))
    mentions = detect_mentions(docs, model_name="gazetteer_ner").localCheckpoint()
    with _job_group(spark) as jobs:
        n = canonicalize_mentions(mentions)[0].count()
    assert n == mentions.count()
    assert len(jobs) <= 13, jobs


def test_non_latin_surfaces_keep_their_own_ids(spark):
    """Surfaces that normalize to "" get no canonical id, so a relation
    between two of them keeps its raw surfaces instead of becoming the
    self-loop ("sf:", near, "sf:")."""
    m = _mentions(spark, ["北京", "東京"])
    mapping, _ = canonicalize_mentions(m)
    assert [r["entity_id"] for r in mapping.collect()] == [None, None]
    rel = spark.createDataFrame(
        [("d0", "m0", "m1", "near", 1.0, None)],
        "doc_id string, head_mention_id string, tail_mention_id string, "
        "label string, score double, content_sha256 string",
    )
    t = relations_to_triples(rel, m, mapping).collect()
    assert [(r["subj"], r["pred"], r["obj"]) for r in t] == [("北京", "near", "東京")]
    # an alias that normalizes to "" must not link every such surface
    aliases = spark.createDataFrame([("北京", "Q956")], "alias string, entity_id string")
    linked, _ = canonicalize_mentions(m, alias_dict=aliases)
    assert [r["entity_id"] for r in linked.collect()] == [None, None]


def test_canonicalize_mentions_end_to_end(spark):
    m = _mentions(
        spark, ["IndieBio", "indiebio", "IndieBio  Inc", "Globex", "Entity A"]
    )
    mapping, _ = canonicalize_mentions(m, jaccard_threshold=0.4)
    ids = {r["mention_id"]: r["entity_id"] for r in mapping.collect()}
    # case/whitespace variants share one canonical id
    assert ids["m0"] == ids["m1"] == ids["m2"] == "sf:indiebio"
    assert ids["m3"] == "sf:globex"
    assert ids["m4"] == "sf:entity a"


def test_entity_linking_dictionary_wins(spark):
    m = _mentions(spark, ["IndieBio", "Globex"])
    aliases = spark.createDataFrame(
        [("indiebio", "Q123")], "alias string, entity_id string"
    )
    mapping, _ = canonicalize_mentions(m, alias_dict=aliases)
    ids = {r["mention_id"]: r["entity_id"] for r in mapping.collect()}
    assert ids["m0"] == "Q123"  # dictionary link beats surface-form id
    assert ids["m1"] == "sf:globex"


def test_link_entities_broadcast(spark):
    m = _mentions(spark, ["Spark!", "unknown thing"])
    aliases = spark.createDataFrame(
        [("spark", "E1")], "alias string, entity_id string"
    )
    out = link_entities(m, aliases).collect()
    by_surface = {r["surface"]: r["linked_entity_id"] for r in out}
    assert by_surface["Spark!"] == "E1"
    assert by_surface["unknown thing"] is None


def test_star_cc_equals_union_find_on_random_and_chain_graphs(spark):
    """large-star/small-star CC must produce exactly the driver union-find
    components, including on a chain (the worst case for min-label
    propagation), within O(log n) rounds."""
    import random

    from pytorch_ie_spark.operators.canonicalize import (
        _driver_side_components,
        connected_components_star,
    )

    random.seed(7)
    cases = []
    # chain of 60 nodes: diameter 59, label propagation would need ~59 rounds
    cases.append([(f"n{i:03d}", f"n{i+1:03d}") for i in range(59)])
    # two dense-ish random clusters + isolated pair
    edges = []
    for _ in range(60):
        a, b = random.sample(range(20), 2)
        edges.append((f"a{a:02d}", f"a{b:02d}"))
    for _ in range(60):
        a, b = random.sample(range(20), 2)
        edges.append((f"b{a:02d}", f"b{b:02d}"))
    edges.append(("z1", "z2"))
    cases.append(edges)
    for rows in cases:
        df = spark.createDataFrame(rows, "src string, dst string")
        got = {
            (r["node"], r["component"])
            for r in connected_components_star(df, max_iter=12).collect()
        }
        und = rows + [(b, a) for a, b in rows]
        want = {
            (r["node"], r["component"])
            for r in _driver_side_components(spark, und).collect()
        }
        assert got == want


def test_cc_distributed_dispatch_equals_driver_path(spark, sf_dir):
    """Force the distributed (star) path with driver_threshold=0 on the real
    relation co-occurrence graph and require identical components to the
    driver union-find path."""
    from pytorch_ie_spark.operators.canonicalize import connected_components
    from pytorch_ie_spark.queries import _relations_df

    rels = _relations_df(spark, sf_dir, 40)
    edges = rels.select(
        F.col("head_surface").alias("src"), F.col("tail_surface").alias("dst")
    ).dropDuplicates(["src", "dst"])
    driver = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    distributed = {
        (r["node"], r["component"])
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert driver == distributed and len(driver) > 0


def test_canonicalize_logs_dropped_buckets(spark, caplog):
    """When the quadratic-bucket cap engages, canonicalize_mentions must
    WARN with the dropped-bucket counts (the observability contract for
    the approximation)."""
    import logging

    from pyspark.sql import functions as F

    from pytorch_ie_spark.operators.canonicalize import canonicalize_mentions

    # hundreds of near-identical surfaces -> one degenerate band bucket
    # 300 DISTINCT surfaces dominated by one shared boilerplate prefix:
    # their minhash bands collide into a degenerate bucket > max_bucket
    mentions = spark.range(300).select(
        F.concat(F.lit("m"), F.col("id")).alias("mention_id"),
        F.concat(
            F.lit("the same exact shared boilerplate surface text number "),
            F.col("id").cast("string"),
        ).alias("surface"),
    )
    with caplog.at_level(logging.WARNING,
                         logger="pytorch_ie_spark.operators.canonicalize"):
        mapped, _ = canonicalize_mentions(mentions, max_bucket=10)
        mapped.count()
    assert any("dropped" in r.message for r in caplog.records)
