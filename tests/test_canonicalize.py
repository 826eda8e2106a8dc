"""Canonicalization: MinHash-LSH blocking + connected components
(FIXTURES.md §4 canonicalization fixture)."""

import random

import pytest
from pyspark.sql import functions as F

import pytorch_ie_spark.operators.canonicalize as canon
from pytorch_ie_spark.corpus import fixture_documents
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


def test_driver_threshold_counts_edges(spark):
    """`driver_threshold` counts edges, not the two directed rows of each:
    N edges take the driver path (a LocalRelation), N + 1 the star path."""
    n = 5
    chain = [(f"v{i}", f"v{i + 1}") for i in range(n + 1)]

    def plan(rows):
        edges = spark.createDataFrame(rows, "src string, dst string")
        comps = connected_components(edges, driver_threshold=n)
        assert {r["component"] for r in comps.collect()} == {"v0"}
        return comps._jdf.queryExecution().analyzed().toString()

    assert "LocalRelation" in plan(chain[:n])
    assert "LocalRelation" not in plan(chain)


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
    """canonicalize_mentions plus a count of its map runs at most 5 Spark
    jobs on the sf0.001 mentions: one bounded collect of the distinct
    surfaces, after which the band stack, the bucket audit, the Jaccard
    check and the union-find run on the driver, and the component map joins
    back as a LocalRelation."""
    docs = documents_from_source_files(source_files_from_documents(spark, sf_dir))
    mentions = detect_mentions(docs, model_name="gazetteer_ner").localCheckpoint()
    with _job_group(spark) as jobs:
        n = canonicalize_mentions(mentions)[0].count()
    assert n == mentions.count()
    assert len(jobs) <= 5, jobs


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


def _boilerplate_mentions(spark):
    """300 DISTINCT surfaces dominated by one shared boilerplate prefix:
    their minhash bands collide into degenerate buckets."""
    return spark.range(300).select(
        F.concat(F.lit("m"), F.col("id")).alias("mention_id"),
        F.concat(
            F.lit("the same exact shared boilerplate surface text number "),
            F.col("id").cast("string"),
        ).alias("surface"),
    )


def test_canonicalize_logs_dropped_buckets(spark, caplog, monkeypatch):
    """When the quadratic-bucket cap engages, canonicalize_mentions must
    WARN with the dropped-bucket counts (the observability contract for
    the approximation) — the same message on the driver path and, with
    DRIVER_SURFACES at 0, on the Spark path."""
    import logging

    mentions = _boilerplate_mentions(spark)
    messages = []
    for bound in (canon.DRIVER_SURFACES, 0):
        monkeypatch.setattr(canon, "DRIVER_SURFACES", bound)
        caplog.clear()
        with caplog.at_level(logging.WARNING,
                             logger="pytorch_ie_spark.operators.canonicalize"):
            mapped, _ = canonicalize_mentions(mentions, max_bucket=10)
            mapped.count()
        messages.append([r.getMessage() for r in caplog.records])
    assert any("dropped" in m for m in messages[0])
    assert messages[0] == messages[1]


def _surface_rows(spark, surfaces, prefix):
    return spark.createDataFrame(
        [(f"{prefix}{i}", s) for i, s in enumerate(surfaces)],
        "mention_id string, surface string",
    )


def _random_surfaces(seed: int = 5) -> list:
    """Families of near-duplicate surfaces: random base names and their
    typo, suffix, case and punctuation variants."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    for _ in range(40):
        base = "".join(rng.choice(letters) for _ in range(rng.randint(2, 12)))
        out.append(base)
        for _ in range(rng.randint(0, 4)):
            i = rng.randrange(len(base))
            out.append(rng.choice([
                base[:i] + rng.choice(letters) + base[i + 1:],
                base[:i] + base[i + 1:],
                base + rng.choice([" inc", " corp", " ltd", "s"]),
                base.upper() + ".",
                " ".join([base, base[: rng.randint(1, len(base))]]),
            ]))
    return out


def _corpus(spark, sf_dir, name):
    if name == "fixture":
        docs = fixture_documents(spark, split=None)
        return detect_mentions(docs, model_name="rule_ner").select("mention_id", "surface")
    if name == "sf0.001":
        docs = documents_from_source_files(source_files_from_documents(spark, sf_dir))
        return detect_mentions(docs, model_name="gazetteer_ner").select("mention_id", "surface")
    if name == "boilerplate":
        return _boilerplate_mentions(spark)
    return _surface_rows(spark, _random_surfaces(), "r")


@pytest.mark.parametrize("corpus", ["fixture", "sf0.001", "boilerplate", "random"])
def test_driver_path_equals_spark_path(spark, sf_dir, monkeypatch, corpus):
    """The driver path and the Spark path (DRIVER_SURFACES at 0) give the
    same (mention_id, entity_id) map and components, with the bucket cap
    off and small enough to drop buckets; "", null and a surface that
    normalizes to "" included."""
    mentions = _corpus(spark, sf_dir, corpus).unionByName(
        _surface_rows(spark, ["", None, "北京", "!!"], "x")
    ).localCheckpoint()
    # the uncapped boilerplate buckets hold ~120k candidate pairs: keep
    # them on the driver side of the comparison
    monkeypatch.setattr(canon, "DRIVER_PAIRS", 10**6)
    merged = {}
    for max_bucket in (None, 2):
        got = []
        for bound in (canon.DRIVER_SURFACES, 0):
            monkeypatch.setattr(canon, "DRIVER_SURFACES", bound)
            mapping, comps = canonicalize_mentions(
                mentions, jaccard_threshold=0.5, max_bucket=max_bucket
            )
            got.append((
                sorted(map(tuple, mapping.collect()), key=str),
                sorted(map(tuple, comps.collect()), key=str),
            ))
        assert got[0] == got[1], (corpus, max_bucket)
        comps = got[0][1]
        assert (None, None) in comps and ("", "") in comps
        merged[max_bucket] = len({c for _, c in comps}) < len(comps)
    # on the synthetic corpora the paths agree on real edges
    assert corpus in ("fixture", "sf0.001") or merged[None]


def test_candidate_pairs_over_bound_fall_back_to_spark(spark, monkeypatch):
    """300 surfaces fit under DRIVER_SURFACES, but their ~120k uncapped
    candidate pairs exceed a DRIVER_PAIRS of 100k: the driver path declines
    before building a pair, and the Spark path runs."""
    monkeypatch.setattr(canon, "DRIVER_PAIRS", 100_000)
    calls = []
    driver, spark_path = canon._driver_surface_components, canon._spark_surface_components

    def spy(name, fn):
        def call(*a, **k):
            out = fn(*a, **k)
            calls.append((name, out is None))
            return out
        return call

    monkeypatch.setattr(canon, "_driver_surface_components", spy("driver", driver))
    monkeypatch.setattr(canon, "_spark_surface_components", spy("spark", spark_path))
    mapping, _ = canonicalize_mentions(_boilerplate_mentions(spark), max_bucket=None)
    assert mapping.count() == 300
    assert calls == [("driver", True), ("spark", False)]


@pytest.mark.parametrize("order", [1, -1])
def test_alias_collisions_link_the_minimum_id(spark, order):
    """Aliases that normalize to the same key link the minimum entity id,
    whatever the dictionary's row order or partitioning."""
    m = _mentions(spark, ["IBM"])
    rows = [("IBM", "Q1"), ("ibm", "Q2")][::order]
    aliases = spark.createDataFrame(rows, "alias string, entity_id string")
    for dictionary in (aliases.coalesce(1), aliases.repartition(2)):
        linked = link_entities(m, dictionary).collect()
        assert [r["linked_entity_id"] for r in linked] == ["Q1"]
