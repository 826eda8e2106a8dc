"""Adversarial data-shape evidence for the dedup family: one viral
boilerplate block shared by 30% of documents creates degenerate LSH band
buckets (the mega-cluster that makes the bucket self-join quadratic at
corpus scale). The cap must (a) engage with AUDITED drop counts and
(b) bound the candidate volume, while the exact variant visibly explodes.

The wall-clock version of this evidence runs at sf0.1 via
scripts/bench_dedup_skew.py and is recorded in BASELINE.md."""

from pyspark.sql import functions as F

from pytorch_ie_spark.operators.dedup import (
    lsh_dropped_buckets,
    minhash_lsh_pairs,
)

BOILER = (
    "all rights reserved this document is provided as is without warranty "
    "of any kind either express or implied including fitness for purpose"
)
N_DOCS = 200
VIRAL_FRACTION = 0.3
MAX_BUCKET = 10


def _skewed_docs(spark):
    # ~30% of docs are the viral boilerplate plus a tiny unique tail; the
    # rest are fully distinct texts
    rows = []
    for i in range(N_DOCS):
        if i % 10 < 10 * VIRAL_FRACTION:
            rows.append((i, f"{BOILER} tail{i}"))
        else:
            rows.append((i, f"unique document number {i} about topic{i} " * 3))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cap_engages_with_audited_drop_counts(spark):
    docs = _skewed_docs(spark)
    dropped = lsh_dropped_buckets(
        docs, "doc_id", "text", max_bucket=MAX_BUCKET
    ).collect()
    # the boilerplate cluster lands ~60 docs in the same bucket for every
    # band -> each band contributes at least one over-cap bucket
    assert len(dropped) >= 1
    n_viral = int(N_DOCS * VIRAL_FRACTION)
    assert all(r["bucket_size"] > MAX_BUCKET for r in dropped)
    assert max(r["bucket_size"] for r in dropped) >= n_viral * 0.9
    # audit covers every dropped row: the viral docs appear once per band
    total_dropped_rows = sum(r["bucket_size"] for r in dropped)
    assert total_dropped_rows >= n_viral


def test_capped_pairs_bounded_vs_exact_explosion(spark):
    docs = _skewed_docs(spark)
    exact = minhash_lsh_pairs(docs, "doc_id", "text").count()
    capped = minhash_lsh_pairs(
        docs, "doc_id", "text", max_bucket=MAX_BUCKET
    ).count()
    n_viral = int(N_DOCS * VIRAL_FRACTION)
    # exact: the mega-cluster alone yields ~C(60, 2) verified pairs
    assert exact >= n_viral * (n_viral - 1) / 2 * 0.9
    # capped: the mega-bucket is dropped before the self-join, so the
    # quadratic cluster contributes nothing
    assert capped <= exact * 0.05
    # and the capped output is a subset of the exact pairs (cap only drops)
    exact_pairs = set(
        (r["src_id"], r["dst_id"])
    for r in minhash_lsh_pairs(docs, "doc_id", "text").collect())
    capped_pairs = set(
        (r["src_id"], r["dst_id"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", max_bucket=MAX_BUCKET
        ).collect()
    )
    assert capped_pairs <= exact_pairs


def test_uniform_corpus_cap_is_noop(spark):
    # no skew -> no bucket over the cap -> capped == exact, audit empty
    docs = spark.createDataFrame(
        [(i, " ".join(f"token{i}x{j}" for j in range(12)))
         for i in range(50)],
        "doc_id long, text string",
    )
    assert lsh_dropped_buckets(
        docs, "doc_id", "text", max_bucket=MAX_BUCKET
    ).count() == 0
    exact = {(r["src_id"], r["dst_id"])
             for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    capped = {
        (r["src_id"], r["dst_id"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", max_bucket=MAX_BUCKET
        ).collect()
    }
    assert capped == exact


def test_cross_corpus_flags_only_cross_side_pairs(spark):
    from pytorch_ie_spark.operators.dedup import cross_corpus_near_dups

    base = "the quick brown fox jumps over the lazy dog again and again"
    new = spark.createDataFrame(
        [(1, base + " tail one"), (2, "totally different new content here")],
        "doc_id long, text string",
    )
    index = spark.createDataFrame(
        [(100, base + " tail two"), (101, base + " tail three"),
         (102, "unrelated index document content")],
        "doc_id long, text string",
    )
    out = cross_corpus_near_dups(new, index, jaccard_threshold=0.5).collect()
    got = {(r["new_id"], r["index_id"]) for r in out}
    # doc 1 near-dups both boilerplate index docs; doc 2 matches nothing;
    # index-index near-dup (100, 101) must NOT appear
    assert got == {(1, 100), (1, 101)}
    assert all(r["jaccard"] >= 0.5 for r in out)


def _viral_pairs(pairs):
    return {(a, b) for a, b in pairs
            if a % 10 < 10 * VIRAL_FRACTION and b % 10 < 10 * VIRAL_FRACTION}


def test_simhash_cap_drops_viral_buckets(spark):
    from pytorch_ie_spark.operators.dedup import simhash_near_dup_pairs

    docs = _skewed_docs(spark)
    exact = {(r["src_id"], r["dst_id"]) for r in
             simhash_near_dup_pairs(docs, "doc_id", "text").collect()}
    capped = {(r["src_id"], r["dst_id"]) for r in simhash_near_dup_pairs(
        docs, "doc_id", "text", max_bucket=MAX_BUCKET).collect()}
    assert capped < exact
    n_viral = int(N_DOCS * VIRAL_FRACTION)
    assert len(_viral_pairs(exact)) >= n_viral * (n_viral - 1) / 2 * 0.9
    # every band bucket the viral cluster shares is over the cap
    assert _viral_pairs(capped) == set()


def test_cross_corpus_cap_drops_viral_buckets(spark):
    from pytorch_ie_spark.operators.dedup import cross_corpus_near_dups

    docs = _skewed_docs(spark)
    new = docs.where(F.col("doc_id") % 3 == 0)
    index = docs.where(F.col("doc_id") % 3 != 0)
    exact = {(r["new_id"], r["index_id"]) for r in
             cross_corpus_near_dups(new, index).collect()}
    capped = {(r["new_id"], r["index_id"]) for r in cross_corpus_near_dups(
        new, index, max_bucket=MAX_BUCKET).collect()}
    assert capped < exact
    # the cap is per side: the ~20 new and ~40 index viral docs each fill
    # an over-cap bucket, so the mega-cluster's pairs go; the few left
    # share a small bucket too (tails "tail30"/"tail31" are near-dups)
    assert len(_viral_pairs(exact)) >= 700
    assert len(_viral_pairs(capped)) <= len(_viral_pairs(exact)) * 0.01
