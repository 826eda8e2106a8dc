"""Mention detection stage: documents -> LabeledSpan mentions.

Spark realization of the reference inference path (SURVEY.md §3.1), the
reference's in-process encode -> forward -> decode per batch
(src/pytorch_ie/pipeline.py:309-431):

    read -> mapInPandas(per Arrow batch: tokenize + enumerate_windows
                        -> one model.predict_tags over the batch's windows,
                           sorted by length -> label-slice mask
                        -> BIO decode -> mention rows)

No shuffle: the kernel (operators/kernel.py) is shared with the fused
extractor, and the model is loaded once per python worker
(operators/models.py). Windowing semantics follow
src/pytorch_ie/utils/window.py:4-27 so every token is labeled in exactly one
window; BIO decode follows src/pytorch_ie/utils/span.py:41-118.
`encode_documents` keeps the TaskEncoding rows for the tokenize round trip
(operators/doc_tokenize.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.tokenize import tokenize_with_offsets
from ..functions.window import enumerate_windows
from .kernel import batch_mentions
from .models import resolve_model

ENCODINGS_SCHEMA = (
    "doc_id string, window_idx int, tokens array<string>, "
    "token_starts array<int>, token_ends array<int>, "
    "label_offset_start int, label_offset_end int, n_tokens int, "
    "content_sha256 string"
)

MENTIONS_SCHEMA = (
    "doc_id string, mention_id string, start int, end int, label string, "
    "surface string, score double, source string, content_sha256 string"
)
MENTION_COLUMNS = [c.split()[0] for c in MENTIONS_SCHEMA.split(", ")]


def encode_documents(
    documents: DataFrame, max_window: int = 128, window_overlap: int = 16
) -> DataFrame:
    """Tokenize + window each document into TaskEncoding rows (1 -> N flatmap,
    reference taskmodule.encode_input)."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text, sha in zip(
                pdf["doc_id"], pdf["text"], pdf["content_sha256"]
            ):
                toks = tokenize_with_offsets(text or "")
                if not toks:
                    continue
                tokens = [t[0] for t in toks]
                starts = [t[1] for t in toks]
                ends = [t[2] for t in toks]
                for w_idx, ((ts, te), (ls, le)) in enumerate(
                    enumerate_windows(len(tokens), max_window, window_overlap)
                ):
                    rows.append(
                        (
                            doc_id,
                            w_idx,
                            tokens[ts:te],
                            starts[ts:te],
                            ends[ts:te],
                            ls,
                            le,
                            te - ts,
                            sha,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "window_idx",
                    "tokens",
                    "token_starts",
                    "token_ends",
                    "label_offset_start",
                    "label_offset_end",
                    "n_tokens",
                    "content_sha256",
                ],
            )

    return documents.select("doc_id", "text", "content_sha256").mapInPandas(
        encode, schema=ENCODINGS_SCHEMA
    )


def detect_mentions(
    documents: DataFrame,
    model_name: str = "rule_ner",
    model_config: dict | None = None,
    max_window: int = 128,
    window_overlap: int = 16,
) -> DataFrame:
    """End-to-end mention stage: one mapInPandas over the documents, no
    shuffle (operators/kernel.batch_mentions per Arrow batch). Note
    `surface` is token-joined text; for exact substring surfaces join back
    to documents.text downstream.

    mention_id = hash(doc_id, span, label), so a document listed twice
    would repeat its mentions. The stage keeps the first row of each
    doc_id per partition, which makes mention_id unique whenever copies of
    a document share a partition — as they do in the pipeline, whose
    documents stage hash-partitions on whole rows (plans/skew.size_bucketed)."""

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = resolve_model(model_name, model_config)
        seen: set[str] = set()
        for pdf in batches:
            pdf = pdf[~pdf["doc_id"].isin(seen)].drop_duplicates("doc_id")
            seen.update(pdf["doc_id"])
            rows = [
                (doc_id, mid, cs, ce, label, surface, 1.0, "pred", sha)
                for doc_id, _text, sha, ms in batch_mentions(
                    model, pdf, max_window, window_overlap
                )
                for cs, ce, label, mid, surface in ms
            ]
            yield pd.DataFrame(rows, columns=MENTION_COLUMNS)

    return documents.select("doc_id", "text", "content_sha256").mapInPandas(
        detect, schema=MENTIONS_SCHEMA
    )
