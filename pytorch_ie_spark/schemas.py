"""Spark schemas for every stage of the KG-construction pipeline.

Data-model mapping (SURVEY.md §1, FIXTURES.md §3):
  - a pytorch-ie ``Document`` is one row of the documents DataFrame,
  - an ``AnnotationLayer`` is a separate normalized DataFrame keyed by doc_id
    (mentions, relations) rather than a nested array column — at 10^12-file
    scale normalized layers shuffle/join far better than exploding nested
    arrays per query,
  - annotation identity (reference: frozen hashable dataclasses,
    pie_documents.annotations) becomes a deterministic content hash
    ``mention_id = sha256(doc_id|start|end|label)`` so equality-by-value
    survives distribution.
"""

from __future__ import annotations

from pyspark.sql import types as T

# input per BASELINE.json input_hint: Iceberg table of source files
SOURCE_FILES = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

# documents: one row per pytorch-ie TextBasedDocument
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content_sha256", T.StringType(), False),
        T.StructField(
            "sentences",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.IntegerType(), False),
                        T.StructField("end", T.IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
    ]
)

# mentions: LabeledSpan layer (pie_documents.annotations.LabeledSpan —
# start/end char offsets end-exclusive, label, score)
MENTIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("surface", T.StringType(), True),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("source", T.StringType(), False),  # gold | pred
        T.StructField("content_sha256", T.StringType(), True),
    ]
)

# relations: BinaryRelation layer (head/tail reference mentions by id,
# reference serializes them as indices into the entity layer:
# tests/conftest.py:31-33)
RELATIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("head_mention_id", T.StringType(), False),
        T.StructField("tail_mention_id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("content_sha256", T.StringType(), True),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("head_mention_id", T.StringType(), False),
        T.StructField("tail_mention_id", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("content_sha256", T.StringType(), True),
    ]
)

# n-ary relations: NaryRelation layer (roles + canonical argument order
# by (start, end, role) — re_text_classification_with_indices.py:244-254)
NARY_ARG = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("mention_id", T.StringType(), True),
        T.StructField("span_label", T.StringType(), True),
    ]
)

NARY_RELATIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("arguments", T.ArrayType(NARY_ARG), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("content_sha256", T.StringType(), True),
    ]
)

# multi-labeled spans: MultiLabeledSpan layer (label SET per span —
# transformer_span_classification.py:116-128)
MULTI_LABELED_SPANS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("labels", T.ArrayType(T.StringType()), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("content_sha256", T.StringType(), True),
    ]
)

# per-partition lineage rows (BASELINE.json north_rule)
LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_sha256_digest", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("triple_count", T.LongType(), True),
        T.StructField("wall_time_s", T.DoubleType(), False),
        T.StructField("ts", T.StringType(), False),
    ]
)

# intermediate: task encodings (tokenized windows), SURVEY.md §1.1 TaskEncoding
TASK_ENCODINGS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("window_idx", T.IntegerType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("token_starts", T.ArrayType(T.IntegerType()), False),
        T.StructField("token_ends", T.ArrayType(T.IntegerType()), False),
        T.StructField("label_offset_start", T.IntegerType(), False),
        T.StructField("label_offset_end", T.IntegerType(), False),
        T.StructField("n_tokens", T.IntegerType(), False),
        T.StructField("content_sha256", T.StringType(), True),
    ]
)
