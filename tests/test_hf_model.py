"""HF model seam: the load->tokenize->forward->argmax->align path of
HFTokenClassificationModel runs for real against a fake transformers/torch
pair (tests/fake_hf), driver-side AND inside Spark workers via addPyFile.
The fake model poisons continuation-subword and padding logits, so any
alignment mistake in the wrapper diverges from rule_ner instead of
silently passing (reference contract: pipeline.py:409-417, model.py:37-40,
transformer_token_classification.py:288-292)."""

import importlib.util
import os
import sys

import pytest

FAKE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fake_hf")


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def fake_hf(monkeypatch):
    monkeypatch.setitem(
        sys.modules, "torch", _load("torch", os.path.join(FAKE_DIR, "torch.py"))
    )
    monkeypatch.setitem(
        sys.modules,
        "transformers",
        _load("transformers", os.path.join(FAKE_DIR, "transformers.py")),
    )


def test_hf_wrapper_matches_rule_ner_tags(fake_hf):
    """Unit drive: ragged lengths (dynamic padding), batch_size smaller than
    the input (chunking), multi-subword words (first-subword alignment)."""
    from pytorch_ie_spark.operators.models import (
        HFTokenClassificationModel,
        RuleNerModel,
    )

    batches = [
        ["Entity", "G", "works", "at", "H"],
        ["A", "short", "one"],
        ["Entity", "M", "founded", "N", "and", "it", "grew"],
        ["O"] * 1,
        ["longwordhere", "Entity", "Q"],
    ]
    hf = HFTokenClassificationModel("fake/checkpoint", batch_size=2)
    assert hf.predict_tags(batches) == RuleNerModel().predict_tags(batches)


def test_hf_wrapper_loads_once_per_spec(fake_hf):
    from pytorch_ie_spark.operators.models import resolve_model

    a = resolve_model(
        "hf_token_classification", {"model_name_or_path": "fake/x"}
    )
    b = resolve_model(
        "hf_token_classification", {"model_name_or_path": "fake/x"}
    )
    assert a is b


def test_detect_mentions_with_hf_wrapper_matches_rule_ner(spark):
    """End-to-end through Spark: ship the fakes to python workers with
    addPyFile, then the HF-backed mention stage must reproduce the rule_ner
    mentions on the fixture corpus exactly."""
    from pytorch_ie_spark.corpus import fixture_documents
    from pytorch_ie_spark.operators.mentions import detect_mentions

    spark.sparkContext.addPyFile(os.path.join(FAKE_DIR, "torch.py"))
    spark.sparkContext.addPyFile(os.path.join(FAKE_DIR, "transformers.py"))

    docs = fixture_documents(spark, split=None)
    cols = ["doc_id", "mention_id", "start", "end", "label", "surface"]
    hf = detect_mentions(
        docs,
        model_name="hf_token_classification",
        model_config={"model_name_or_path": "fake/checkpoint", "batch_size": 4},
    )
    rule = detect_mentions(docs, model_name="rule_ner")
    hf_rows = sorted(map(tuple, hf.select(*cols).collect()))
    rule_rows = sorted(map(tuple, rule.select(*cols).collect()))
    assert hf_rows == rule_rows and len(hf_rows) > 0


def test_batch_kernel_sorts_windows_and_restores_order(fake_hf):
    """Fixture documents windowed small give one batch of windows with mixed
    lengths. The kernel tags them in one call in length order (the HF
    wrapper pads each chunk to its longest window) and must hand every
    window its own tags back: the spans equal a window-by-window
    reference loop."""
    import pandas as pd

    from pytorch_ie_spark.corpus import FIXTURE_DOCS
    from pytorch_ie_spark.functions.span import bio_tags_to_spans
    from pytorch_ie_spark.functions.tokenize import tokenize_with_offsets
    from pytorch_ie_spark.functions.window import enumerate_windows
    from pytorch_ie_spark.operators.kernel import batch_mentions
    from pytorch_ie_spark.operators.models import (
        HFTokenClassificationModel,
        RuleNerModel,
    )

    hf = HFTokenClassificationModel("fake/checkpoint", batch_size=3)
    lengths = []

    class Recording:
        def predict_tags(self, batch):
            lengths.extend(map(len, batch))
            return hf.predict_tags(batch)

    pdf = pd.DataFrame(
        {
            "doc_id": [d["id"] for d in FIXTURE_DOCS],
            "text": [d["text"] for d in FIXTURE_DOCS],
            "content_sha256": "sha",
        }
    )
    got = {
        (doc_id, s, e, label)
        for doc_id, _, _, ms in batch_mentions(Recording(), pdf, 6, 2)
        for s, e, label, _, _ in ms
    }
    assert len(set(lengths)) > 1 and lengths == sorted(lengths)

    want = set()
    for d in FIXTURE_DOCS:
        toks = tokenize_with_offsets(d["text"])
        for (ts, te), (ls, le) in enumerate_windows(len(toks), 6, 2):
            tags = RuleNerModel().predict_tags([[t[0] for t in toks[ts:te]]])[0]
            masked = [t if ls <= i < le else "O" for i, t in enumerate(tags)]
            for label, (s, e) in bio_tags_to_spans(masked):
                want.add((d["id"], toks[ts + s][1], toks[ts + e][2], label))
    assert got == want and len(got) > 0
