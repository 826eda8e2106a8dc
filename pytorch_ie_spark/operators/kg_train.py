"""KG-embedding training data preparation: deterministic negative sampling
and constraint validation over the materialized triple table.

Negative sampling (corrupt the tail of each positive triple with a random
real entity, filter out accidental positives) is the standard
TransE/DistMult training-pair generator. Everything here is a pure
function of the data + a seed — no RNG state, so regenerating on any
cluster layout yields the same pairs (the reproducibility bar the rest of
this repo holds).

Scale shape: the entity vocabulary gets a dense 0..N-1 index via
TWO-LEVEL indexing — row_number only WITHIN hash buckets, plus a
bucket-offset table that is bucket-cardinality-sized (tiny) — never a
global single-task sort over the vocabulary. The corrupted-index join is
keyed on the dense index; the accidental-positive filter is a left-anti
join against the true triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

N_INDEX_BUCKETS = 64


def _md5_bucket(col, n_buckets: int):
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def indexed_entities(
    triples: DataFrame, n_buckets: int = N_INDEX_BUCKETS
) -> DataFrame:
    """(entity, idx) with a dense, deterministic 0..N-1 index over the
    distinct subj/obj vocabulary. Index = bucket offset + within-bucket
    row_number; ordering is (bucket by md5, entity) — stable across runs
    and partitionings."""
    ents = (
        triples.select(F.col("subj").alias("e"))
        .union(triples.select(F.col("obj").alias("e")))
        .distinct()
        .withColumn("b", _md5_bucket(F.col("e"), n_buckets))
        .localCheckpoint(eager=False)
    )
    counts = ents.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    # offsets: cumulative count over the bucket table — n_buckets rows,
    # tiny by construction; this window never sees entity rows
    offsets = counts.withColumn(
        "off",
        F.coalesce(
            F.sum("c").over(
                W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("b", "off")
    wb = W.partitionBy("b").orderBy("e")
    return (
        ents.withColumn("rn", F.row_number().over(wb))
        .join(F.broadcast(offsets), "b")
        .select("e", (F.col("off") + F.col("rn") - 1).alias("idx"))
    )


def negative_samples(
    triples: DataFrame,
    k: int = 2,
    seed: str = "neg-v1",
) -> DataFrame:
    """For each distinct (subj, pred, obj) positive, `k` tail-corrupted
    negatives: the replacement entity is the one whose dense index equals
    md5(subj|pred|obj|j|seed) mod N. Corruptions that reproduce a TRUE
    triple (accidental positives) are filtered with a left-anti join, as
    is the degenerate no-op corruption (neg_obj == obj), so emitted rows
    are guaranteed negatives. Returns (subj, pred, obj, j, neg_obj)."""
    t = triples.select("subj", "pred", "obj").dropDuplicates(
        ["subj", "pred", "obj"]
    ).localCheckpoint(eager=False)
    ents = indexed_entities(t)
    n = ents.count()  # one scalar; the vocab itself is never collected
    expanded = t.select(
        "subj",
        "pred",
        "obj",
        # j = 0..k-1 as one `sequence`; k < 1 samples nothing
        F.explode(F.expr(f"sequence(0, {k - 1})") if k > 0 else F.array()).alias("j"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", "subj", "pred", "obj", F.col("j").cast("string"),
                    F.lit(seed),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    # no broadcast hint on purpose: the entity vocab may be huge at corpus
    # scale — AQE picks broadcast when it actually fits
    cand = expanded.withColumn("_idx", h % n).join(
        ents.withColumnRenamed("idx", "_idx"), "_idx"
    ).select(
        "subj", "pred", "obj", "j", F.col("e").alias("neg_obj")
    ).where(F.col("neg_obj") != F.col("obj"))
    true_keyed = t.select(
        "subj", "pred", F.col("obj").alias("neg_obj")
    )
    return cand.join(
        true_keyed, ["subj", "pred", "neg_obj"], "left_anti"
    ).select(
        "subj", "pred", "obj", F.col("j").cast("long").alias("j"), "neg_obj"
    )


def cardinality_check(
    triples: DataFrame, functional_preds: list[str]
) -> DataFrame:
    """Constraint validation: for each declared functional predicate (a
    subject may relate to at most ONE distinct object), the per-subject
    distinct-object count and a violation flag — the ontology QA report a
    KG build ships with its snapshot. One keyed aggregation."""
    return (
        triples.where(F.col("pred").isin(list(functional_preds)))
        .groupBy("subj", "pred")
        .agg(F.countDistinct("obj").cast("long").alias("n_objects"))
        .withColumn("violates_functional", F.col("n_objects") > 1)
    )
