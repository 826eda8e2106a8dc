"""Golden corpus end-to-end: the P/R >= 0.95 triple gate (BASELINE.md) plus
per-stage invariants (content sha256, mention offsets, relation head/tail)."""

import pytest
from pyspark.sql import functions as F

from pytorch_ie_spark.corpus import (
    fixture_documents,
    fixture_gold_mentions,
    fixture_gold_relations,
    fixture_source_files,
)
from pytorch_ie_spark.operators.candidates import candidate_pairs
from pytorch_ie_spark.operators.mentions import detect_mentions
from pytorch_ie_spark.operators.metrics import micro_pr, pr_f1
from pytorch_ie_spark.operators.relations import classify_relations
from pytorch_ie_spark.pipeline import KgPipelineConfig, run_kg_pipeline


@pytest.fixture(scope="module")
def pipeline_outputs(spark):
    docs = fixture_documents(spark, split=None)
    mentions = detect_mentions(docs, model_name="rule_ner").cache()
    cands = candidate_pairs(mentions, max_distance=200)
    relations = classify_relations(
        cands, docs, mentions, model_name="rule_re"
    ).cache()
    return docs, mentions, relations


def test_mention_pr_gate(spark, pipeline_outputs):
    _, mentions, _ = pipeline_outputs
    gold = fixture_gold_mentions(spark, split=None)
    p, r = micro_pr(gold, mentions, ["doc_id", "start", "end", "label"])
    assert p >= 0.95 and r >= 0.95
    assert (p, r) == (1.0, 1.0)


def test_relation_pr_gate(spark, pipeline_outputs):
    """The BASELINE gate: triple P/R >= 0.95 vs reference annotations."""
    _, _, relations = pipeline_outputs
    gold = fixture_gold_relations(spark, split=None)
    p, r = micro_pr(
        gold, relations, ["doc_id", "head_mention_id", "tail_mention_id", "label"]
    )
    assert p >= 0.95 and r >= 0.95


def test_per_label_f1(spark, pipeline_outputs):
    _, _, relations = pipeline_outputs
    gold = fixture_gold_relations(spark, split=None)
    table = pr_f1(
        gold, relations, ["doc_id", "head_mention_id", "tail_mention_id", "label"]
    ).collect()
    by_label = {r["label"]: r for r in table}
    assert by_label["MICRO"]["f1"] == 1.0
    # MACRO = unweighted mean over labels; all per-label f1 are 1.0 here
    assert by_label["MACRO"]["f1"] == 1.0
    assert by_label["MACRO"]["tp"] is None
    assert set(by_label) == {
        "per:employee_of",
        "per:founder",
        "org:founded_by",
        "MICRO",
        "MACRO",
    }


def test_pr_f1_empty_inputs_omit_macro(spark):
    """With no labels at all the reference metric has no macro entry —
    pr_f1 must not emit an all-NULL MACRO row."""
    empty = spark.createDataFrame([], "doc_id string, label string")
    rows = pr_f1(empty, empty, ["doc_id", "label"]).collect()
    labels = {r["label"] for r in rows}
    assert "MACRO" not in labels
    assert labels == {"MICRO"}  # micro row survives with zero counts


def test_mention_offsets_golden(spark, pipeline_outputs):
    """Exact char offsets for doc5 (reference tests assert every offset)."""
    _, mentions, _ = pipeline_outputs
    rows = (
        mentions.where(F.col("doc_id") == "train_doc5")
        .orderBy("start")
        .select("start", "end", "label")
        .collect()
    )
    assert [(r["start"], r["end"], r["label"]) for r in rows] == [
        (16, 24, "PER"),
        (34, 35, "ORG"),
        (49, 50, "ORG"),
    ]


def test_content_sha_invariant(spark, pipeline_outputs):
    """input_hint per-row invariant: sha256(content) survives every stage."""
    docs, mentions, relations = pipeline_outputs
    doc_sha = {r["doc_id"]: r["content_sha256"] for r in docs.collect()}
    for df in (mentions, relations):
        for row in df.collect():
            assert row["content_sha256"] == doc_sha[row["doc_id"]]


def test_batched_equals_modular_relations(spark, pipeline_outputs):
    """The batched (one-Python-call-per-Arrow-batch) relation stage — the
    pipeline default — must produce exactly the relations of the modular
    path."""
    from pytorch_ie_spark.operators.relations import extract_relations_batched

    docs, mentions, relations = pipeline_outputs
    batched = extract_relations_batched(
        docs, mentions, model_name="rule_re", max_distance=200
    )
    key = ["doc_id", "head_mention_id", "tail_mention_id", "label"]
    a = sorted(map(tuple, batched.select(*key).collect()))
    b = sorted(map(tuple, relations.select(*key).collect()))
    assert a == b


def test_fused_extract_equals_staged(spark, pipeline_outputs):
    """The single-pass fused extractor must emit the same triples as the
    staged mentions->candidates->relations->triples chain."""
    from pytorch_ie_spark.operators.extract import extract_triples_fused, fused_triples
    from pytorch_ie_spark.operators.triples import dedupe_triples, relations_to_triples

    docs, mentions, relations = pipeline_outputs
    fused = fused_triples(
        extract_triples_fused(
            docs, ner_model="rule_ner", re_model="rule_re", max_distance=200
        )
    )
    staged = dedupe_triples(relations_to_triples(relations, mentions))
    key = ["doc_id", "subj", "pred", "obj"]
    a = sorted(map(tuple, fused.select(*key).collect()))
    b = sorted(map(tuple, staged.select(*key).collect()))
    assert a == b
    assert len(a) == 13


def test_full_pipeline_triples(spark, tmp_path):
    src = fixture_source_files(spark)
    triples = run_kg_pipeline(
        spark, src, KgPipelineConfig(), ckpt_dir=str(tmp_path / "ckpt")
    )
    rows = triples.collect()
    assert len(rows) == 13
    # canonicalization must not merge distinct entities
    subjects = {r["subj"] for r in rows}
    assert "sf:entity g" in subjects and "sf:entity m" in subjects
    # lineage written for every stage
    from pytorch_ie_spark.plans.lineage import read_lineage

    stages = {
        r["stage"] for r in read_lineage(spark, str(tmp_path / "ckpt")).collect()
    }
    assert stages == {"documents", "mentions", "relations", "triples"}


def test_long_document_windowed_relations(spark):
    """Candidates deep inside a long document are still classified when the
    relation-encode window is far smaller than the document: the window
    centers on the candidate pair (window_around_slice), so document
    length never bounds recall — only the pair's own width does."""
    from pytorch_ie_spark.operators.relations import extract_relations_batched

    pad = "pad " * 500  # 2000 chars of filler
    text = pad + "spark scan " + pad.rstrip()
    docs = spark.createDataFrame(
        [("dl", text, "sha")], "doc_id string, text string, content_sha256 string"
    )
    s1 = len(pad)
    mentions = spark.createDataFrame(
        [
            ("dl", "m1", s1, s1 + 5, "ENGINE", "spark"),
            ("dl", "m2", s1 + 6, s1 + 10, "OP", "scan"),
        ],
        "doc_id string, mention_id string, start long, end long, "
        "label string, surface string",
    )
    kwargs = dict(
        model_name="cooccurrence_re", max_distance=40, none_label="no_relation"
    )
    unwindowed = extract_relations_batched(docs, mentions, **kwargs).collect()
    windowed = extract_relations_batched(
        docs, mentions, max_window=64, **kwargs
    ).collect()
    key = lambda r: (r["head_mention_id"], r["tail_mention_id"], r["label"])
    assert sorted(map(key, windowed)) == sorted(map(key, unwindowed))
    assert any(r["label"] == "engine:supports_op" for r in windowed)
    # a pair wider than the window is skipped, not misclassified
    wide = spark.createDataFrame(
        [
            ("dl", "m1", 0, 5, "ENGINE", "spark"),
            ("dl", "m2", 30, 34, "OP", "scan"),
        ],
        "doc_id string, mention_id string, start long, end long, "
        "label string, surface string",
    )
    skipped = extract_relations_batched(docs, wide, max_window=20, **kwargs)
    assert skipped.count() == 0


def test_batched_relation_plan_shape(spark, pipeline_outputs):
    """Plan audit: the batched relation stage is ONE Arrow-batched Python
    stage (a single MapInPandas / ArrowEval node), not a per-group
    FlatMapGroups — the 10^12-doc scaling property the stage exists for."""
    from pytorch_ie_spark.operators.relations import extract_relations_batched

    docs, mentions, _ = pipeline_outputs
    plan = (
        extract_relations_batched(docs, mentions, model_name="rule_re")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") + plan.count("ArrowEvalPython") >= 1
    assert "FlatMapGroupsInPandas" not in plan


def test_pipeline_generative_linker(spark):
    """linker='generative' swaps the LSH canonicalizer for the GENRE-style
    trie decode: every triple's subj/obj is a 'gen:'-prefixed KB entity,
    and the relation structure (doc, pred, arg mention ids) is unchanged
    vs the LSH run."""
    from pytorch_ie_spark.operators.entity_linking_gen import ENTITY_KB

    src = fixture_source_files(spark)
    gen = run_kg_pipeline(
        spark, src, KgPipelineConfig(linker="generative")
    ).collect()
    assert len(gen) > 0
    for r in gen:
        assert r["subj"].startswith("gen:") and r["obj"].startswith("gen:")
        assert r["subj"][4:] in ENTITY_KB and r["obj"][4:] in ENTITY_KB
    lsh = run_kg_pipeline(spark, src, KgPipelineConfig()).collect()
    key = lambda rows: sorted(
        (r["doc_id"], r["pred"], r["head_mention_id"], r["tail_mention_id"])
        for r in rows
    )
    assert key(gen) == key(lsh)


def test_pipeline_rejects_unknown_linker():
    # validation fires before any Spark work, so no session is needed
    with pytest.raises(ValueError, match="linker"):
        run_kg_pipeline(None, None, KgPipelineConfig(linker="genre"))
