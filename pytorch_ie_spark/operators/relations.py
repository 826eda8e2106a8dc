"""Relation classification stage: candidate pairs -> BinaryRelation rows.

Reference path (SURVEY.md §3.1): encode candidate (marker insertion +
window around args) -> batched transformer -> argmax -> none-label
suppression (re_text_classification_with_indices.py:1369-1381).

Spark realization: join candidates with document text + the document's
mention list (the classifier's context), then one Arrow-batched
mapInPandas call running the pair classifier per batch. The none label is
filtered *after* classification, exactly like the reference decode.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernel import classify_pairs
from .models import resolve_model

RELATIONS_SCHEMA = (
    "doc_id string, head_mention_id string, tail_mention_id string, "
    "label string, score double, source string, content_sha256 string"
)
RELATION_COLUMNS = [c.split()[0] for c in RELATIONS_SCHEMA.split(", ")]


def classify_relations(
    candidates: DataFrame,
    documents: DataFrame,
    mentions: DataFrame,
    model_name: str = "rule_re",
    model_config: dict | None = None,
    none_label: str = "no_relation",
    keep_none: bool = False,
) -> DataFrame:
    """Classify each candidate pair; suppress the none label by default."""
    doc_ctx = documents.select("doc_id", "text")
    # per-doc mention context (the classifier sees the full entity layer,
    # as the reference taskmodule sees document.entities)
    mention_ctx = (
        mentions.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("start", "end", "label"))
            ).alias("doc_mentions")
        )
    )
    enriched = candidates.join(doc_ctx, "doc_id", "left").join(
        mention_ctx, "doc_id", "left"
    )

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = resolve_model(model_name, model_config)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = list(pdf["text"])
            mlists = [
                [
                    (int(m["start"]), int(m["end"]), m["label"])
                    for m in (ms if ms is not None else [])
                ]
                for ms in pdf["doc_mentions"]
            ]
            heads = list(zip(pdf["head_start"].astype(int), pdf["head_end"].astype(int)))
            tails = list(zip(pdf["tail_start"].astype(int), pdf["tail_end"].astype(int)))
            preds = model.predict_pairs(
                texts,
                mlists,
                heads,
                tails,
                head_labels=list(pdf["head_label"]),
                tail_labels=list(pdf["tail_label"]),
            )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "head_mention_id": pdf["head_mention_id"].values,
                    "tail_mention_id": pdf["tail_mention_id"].values,
                    "label": [p[0] for p in preds],
                    "score": [float(p[1]) for p in preds],
                    "source": "pred",
                    "content_sha256": pdf["content_sha256"].values,
                }
            )
            yield out

    relations = enriched.mapInPandas(infer, schema=RELATIONS_SCHEMA)
    if not keep_none:
        relations = relations.filter(F.col("label") != none_label)
    return relations


def extract_relations_batched(
    documents: DataFrame,
    mentions: DataFrame,
    model_name: str = "rule_re",
    model_config: dict | None = None,
    max_distance: int | None = 200,
    none_label: str = "no_relation",
    keep_none: bool = False,
    max_window: int | None = None,
) -> DataFrame:
    """Fused candidate-generation + classification, ONE Python invocation per
    Arrow batch (not per document).

    A per-doc_id cogroup would invoke the Python worker and allocate a
    pandas frame per group — per-key overhead that the extract.py
    docstring warns against and that dominates at 10^12 docs. Here
    mentions are pre-aggregated per doc (sort_array+collect_set: one
    shuffle, bounded arrays, a repeated mention kept once), joined with the
    doc text, and operators/kernel.classify_pairs enumerates each
    document's candidate pairs with a numpy mask and classifies the whole
    batch in a single vectorized call.

    `max_window` bounds each candidate's classifier context to a window
    of that many chars around its arguments (see classify_pairs).

    The mentions are hash-partitioned on `doc_id` into
    `spark.sql.shuffle.partitions` parts first. The grouping reuses that
    partitioning, so there is no extra exchange, and a partition count
    the user asked for is one AQE never coalesces: left to AQE, the small
    aggregated mention table lands on one task, and the classifier with
    it."""
    n = int(mentions.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    m_agg = mentions.repartition(n, "doc_id").groupBy("doc_id").agg(
        F.sort_array(
            F.collect_set(F.struct("start", "end", "label", "mention_id"))
        ).alias("ments")
    )
    joined = documents.select("doc_id", "text", "content_sha256").join(
        m_agg, "doc_id"
    )

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = resolve_model(model_name, model_config)
        for pdf in batches:
            docs = [
                (doc_id, text, sha, [
                    (int(m["start"]), int(m["end"]), m["label"], m["mention_id"])
                    for m in ments
                ])
                for doc_id, text, sha, ments in zip(
                    pdf["doc_id"], pdf["text"], pdf["content_sha256"], pdf["ments"]
                )
            ]
            pair_docs, heads, tails, preds = classify_pairs(
                model, docs, max_distance, max_window
            )
            out = pd.DataFrame(
                {
                    "doc_id": [d[0] for d in pair_docs],
                    "head_mention_id": [m[3] for m in heads],
                    "tail_mention_id": [m[3] for m in tails],
                    "label": [p[0] for p in preds],
                    "score": [float(p[1]) for p in preds],
                    "source": "pred",
                    "content_sha256": [d[2] for d in pair_docs],
                },
                columns=RELATION_COLUMNS,
            )
            if not keep_none:
                out = out[out["label"] != none_label]
            yield out

    return joined.mapInPandas(infer, schema=RELATIONS_SCHEMA)


def merge_relation_layers(*layers: DataFrame) -> DataFrame:
    """Multi-source annotation merge: union layers, dedup by value keeping the
    max score (utils/document.py:76-144 merge + deduplicate_annotations)."""
    merged = layers[0]
    for other in layers[1:]:
        merged = merged.unionByName(other)
    key = ["doc_id", "head_mention_id", "tail_mention_id", "label"]
    return (
        merged.groupBy(*key)
        .agg(
            F.max("score").alias("score"),
            F.min("source").alias("source"),
            F.first("content_sha256", ignorenulls=True).alias("content_sha256"),
        )
    )


def add_reversed_relations(
    relations: DataFrame,
    arg_cols: tuple[str, str, str, str] = (
        "head_start",
        "head_end",
        "tail_start",
        "tail_end",
    ),
    label_col: str = "label",
    suffix: str = "_reversed",
    symmetric_relations: list[str] | None = None,
    reverse_symmetric_relations: bool = True,
) -> DataFrame:
    """Reversed-relation augmentation (reference
    re_text_classification_with_indices.py:544-620 _add_reversed_relations):

      - every binary relation additionally yields (tail, head) with
        `label + suffix`; SYMMETRIC labels keep their label unchanged
        (and are skipped entirely when reverse_symmetric_relations=False),
      - a label already carrying the suffix is an error (double reversal),
      - a reversed candidate whose ARGUMENT pair already exists in the
        input (any label — the reference keys arguments2relation by the
        argument tuple alone) is NOT added: implemented as one left-anti
        join on (doc_id, swapped args), never a driver loop.

    Returns input ∪ added reversed rows, same schema.
    """
    hs, he, ts, te = arg_cols
    sym = list(symmetric_relations or [])
    base = relations
    if not reverse_symmetric_relations and sym:
        base = base.where(~F.col(label_col).isin(sym))
    # double-reversal guard rides the same job (in-plan raise_error), no
    # separate validation action over the input
    already = F.col(label_col).endswith(suffix)
    guard = F.when(
        already,
        F.raise_error(
            F.concat(
                F.lit("label already ends with reversal suffix: "),
                F.col(label_col),
            )
        ),
    )
    keep_or_suffix = (
        F.when(F.col(label_col).isin(sym), F.col(label_col))
        if sym
        else F.when(F.lit(False), F.col(label_col))
    ).otherwise(F.concat(F.col(label_col), F.lit(suffix)))
    # the guard fires before the symmetric branch, like the reference
    rev_label = F.coalesce(guard, keep_or_suffix)
    passthrough = [
        c for c in relations.columns if c not in (hs, he, ts, te, label_col)
    ]
    rev = base.select(
        *passthrough,
        F.col(ts).alias(hs),
        F.col(te).alias(he),
        F.col(hs).alias(ts),
        F.col(he).alias(te),
        rev_label.alias(label_col),
    )
    existing_args = relations.select("doc_id", hs, he, ts, te).dropDuplicates()
    rev = rev.join(existing_args, ["doc_id", hs, he, ts, te], "left_anti")
    return relations.unionByName(rev.select(*relations.columns))
