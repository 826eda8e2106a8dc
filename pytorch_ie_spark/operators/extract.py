"""Fully fused single-pass extraction: documents -> relation/triple rows in
ONE mapInPandas stage (tokenize -> window -> NER -> decode -> candidate
pairs -> RE -> none-suppression), no shuffle until the output aggregation.
The per-batch work is operators/kernel.py, the same kernel the staged
mention and relation operators run.

This is the exact shape of the reference pipeline — each document flows
through taskmodule.encode -> model -> taskmodule.decode in-process
(src/pytorch_ie/pipeline.py:309-431) — and the preferred 10^12-file plan:
the staged operators (operators/mentions.py, relations.py) exist for when
the mention layer itself must be materialized/queried; when only triples
are needed, staging them through shuffles buys nothing.

Per-batch vectorization notes: one predict_tags and one predict_pairs call
per Arrow batch, pair enumeration numpy-masked per document, one pandas
DataFrame per Arrow batch (not per group — this is mapInPandas, not the
per-key applyInPandas).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernel import batch_mentions, classify_pairs
from .models import resolve_model

TRIPLE_ROWS_SCHEMA = (
    "doc_id string, subj string, pred string, obj string, "
    "head_mention_id string, tail_mention_id string, score double, "
    "content_sha256 string"
)
TRIPLE_ROWS_COLUMNS = [c.split()[0] for c in TRIPLE_ROWS_SCHEMA.split(", ")]


def extract_triples_fused(
    documents: DataFrame,
    ner_model: str = "gazetteer_ner",
    ner_config: dict | None = None,
    re_model: str = "cooccurrence_re",
    re_config: dict | None = None,
    max_window: int = 128,
    window_overlap: int = 16,
    max_distance: int | None = 40,
    none_label: str = "no_relation",
) -> DataFrame:
    """documents(doc_id, text, content_sha256) -> raw triple rows."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ner = resolve_model(ner_model, ner_config)
        rel = resolve_model(re_model, re_config)
        for pdf in batches:
            docs = batch_mentions(ner, pdf, max_window, window_overlap)
            rows = [
                (doc_id, text[hm[0] : hm[1]], label, text[tm[0] : tm[1]],
                 hm[3], tm[3], float(score), sha)
                for (doc_id, text, sha, _), hm, tm, (label, score)
                in zip(*classify_pairs(rel, docs, max_distance))
                if label != none_label
            ]
            yield pd.DataFrame(rows, columns=TRIPLE_ROWS_COLUMNS)

    from ..plans.skew import ensure_parallelism

    # project to the three consumed columns BEFORE the opaque Python stage
    # (mapInPandas defeats column pruning), and fan the scan out: a small
    # corpus parquet plans as 1-2 splits, which would run the whole
    # NER+RE Python stage on 1-2 workers; on a real cluster the scan
    # already yields thousands of partitions and this is a no-op. A
    # STREAMING source cannot be partition-probed (no .rdd on an unstarted
    # stream) — micro-batch parallelism is the source's job there.
    projected = documents.select("doc_id", "text", "content_sha256")
    if not documents.isStreaming:
        projected = ensure_parallelism(projected)
    return projected.mapInPandas(process, schema=TRIPLE_ROWS_SCHEMA)


def fused_triples(raw: DataFrame) -> DataFrame:
    """Raw rows -> deduped triples (same output contract as
    operators/triples.py dedupe_triples)."""
    return (
        raw.groupBy("subj", "pred", "obj", "doc_id")
        .agg(
            F.max("score").alias("score"),
            F.min("head_mention_id").alias("head_mention_id"),
            F.min("tail_mention_id").alias("tail_mention_id"),
            F.first("content_sha256", ignorenulls=True).alias("content_sha256"),
        )
    )
