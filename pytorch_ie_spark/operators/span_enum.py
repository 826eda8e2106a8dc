"""Span-enumeration classification: enumerate ALL token spans up to a
maximum length per sequence and score each against every class, emitting
only the spans that clear the threshold as MultiLabeledSpan rows.

Reference analog: transformer_span_classification.py:101-131
(_start_end_and_span_length_span_index enumerates spans of length
1..max_span_length with start 0..seq_len-length for every sequence in the
batch, then scores each enumerated span with the classification head).

The O(n * max_span_length * n_classes) explosion lives ENTIRELY inside the
Arrow batch: only surviving (span, label) pairs become DataFrame rows, so
the shuffle after this stage carries the (sparse) annotation volume, never
the dense enumeration — the property that keeps this viable at corpus
scale. The scorer here is a deterministic md5 mock standing in for the
span head (same md5 both engines -> the DuckDB oracle reproduces it
bit-exactly); a real model plugs in through the same resolve_model seam as
the other stages.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401 (callers compose)

SPAN_ENUM_SCHEMA = (
    "doc_id long, tok_start long, tok_end long, surface string, "
    "label string, score double"
)

DEFAULT_CLASSES = ("ENGINE", "OP", "ALGO")
SCORE_SCALE = 10000


def mock_span_scores(surface: str, n_classes: int) -> list[float]:
    """Deterministic stand-in logits in [0, 1): ONE md5 per surface, class
    i reads hex slice [8i, 8i+8) — a third of the hash work of hashing
    (surface, class) pairs, the dominant cost of the mock at corpus scale.
    Supports up to 4 classes (32 hex chars). Engine-portable: DuckDB
    computes the identical value via
    ('0x' || substr(md5(s), 1 + 8*i, 8))::BIGINT % 10000 / 10000.0."""
    h = hashlib.md5(surface.encode()).hexdigest()
    return [
        (int(h[8 * i : 8 * i + 8], 16) % SCORE_SCALE) / SCORE_SCALE
        for i in range(n_classes)
    ]


def enumerate_and_classify_spans(
    documents: DataFrame,
    max_span_length: int = 4,
    classes: tuple[str, ...] = DEFAULT_CLASSES,
    threshold: float = 0.95,
) -> DataFrame:
    """documents (doc_id, text) -> MultiLabeledSpan rows (doc_id,
    tok_start, tok_end[exclusive], surface, label, score) for every
    enumerated span whose mock class score clears `threshold`; a span
    clearing it for several classes yields several rows (multilabel,
    operators/nary.py MultiLabeledSpan shape)."""
    cls = list(classes)
    if len(cls) > 4:
        raise ValueError("mock head supports at most 4 classes (md5 width)")

    def enumerate_spans(batches: Iterator) -> Iterator:
        import pandas as pd

        n_cls = len(cls)
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # split(" ") matches string_split(text, ' ') in the oracle
                tokens = (text or "").split(" ")
                n = len(tokens)
                for length in range(1, max_span_length + 1):
                    for start in range(0, n - length + 1):
                        surface = " ".join(tokens[start : start + length])
                        for ci, score in enumerate(
                            mock_span_scores(surface, n_cls)
                        ):
                            if score >= threshold:
                                rows.append(
                                    (
                                        doc_id,
                                        start,
                                        start + length,
                                        surface,
                                        cls[ci],
                                        round(score, 6),
                                    )
                                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "tok_start",
                    "tok_end",
                    "surface",
                    "label",
                    "score",
                ],
            )

    from ..plans.skew import ensure_parallelism

    # local single-row-group parquet scans plan as ONE task; the O(n*L*C)
    # enumeration must spread across cores (no-op on a real cluster scan)
    return ensure_parallelism(
        documents.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    ).mapInPandas(enumerate_spans, schema=SPAN_ENUM_SCHEMA)
