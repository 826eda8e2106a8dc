"""Dedup family: exact / minhash / simhash / ngram-jaccard, checked against
pure-python reference implementations (functions/hashing.py)."""

from pyspark.sql import functions as F

from pytorch_ie_spark.functions.hashing import (
    char_shingles,
    jaccard,
    md5_hex,
    minhash_signature,
    simhash16,
)
from pytorch_ie_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash16 as simhash16_df,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "src0") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )


def test_exact_duplicates(spark):
    df = _docs(spark, ["hello  world", "Hello World", "unique doc"])
    groups = {r["content_key"]: r for r in exact_duplicates(df, "doc_id", "text").collect()}
    key = md5_hex("hello world")
    assert groups[key]["dup_count"] == 2
    assert groups[key]["keep_id"] == 0


def test_minhash_pairs_detect_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " ok"
    df = _docs(spark, [base, near, "completely different content here entirely"])
    pairs = minhash_lsh_pairs(df, "doc_id", "text", jaccard_threshold=0.5).collect()
    assert [(p["src_id"], p["dst_id"]) for p in pairs] == [(0, 1)]
    # verified jaccard matches the python reference
    a, b = set(char_shingles(base, 5)), set(char_shingles(near, 5))
    assert abs(pairs[0]["jaccard"] - round(jaccard(a, b), 6)) < 1e-9


def test_minhash_signature_matches_python(spark):
    """Both Spark MinHash forms equal the plain-Python minhash_signature:
    the per-component minhash_signature_cols and the one-fold
    with_minhash_signature at 16 components, on several texts including
    one shorter than the shingle width."""
    from pytorch_ie_spark.operators.canonicalize import (
        char_shingles_col,
        minhash_signature_cols,
        with_minhash_signature,
    )
    from pytorch_ie_spark.operators.dedup import normalize_text

    texts = ["some example document text", "abc", "the quick brown fox", "aaaaaaaa"]
    sh = _docs(spark, texts).select(
        "doc_id", char_shingles_col(normalize_text(F.col("text")), 5).alias("sh")
    )
    per_col = sh.select("doc_id", *minhash_signature_cols(F.col("sh"), 4))
    folded = with_minhash_signature(sh, "sh", 16)
    for df, n in ((per_col, 4), (folded, 16)):
        got = {r["doc_id"]: [r[f"mh{i}"] for i in range(n)] for r in df.collect()}
        assert got == {
            i: minhash_signature(char_shingles(t, 5), n) for i, t in enumerate(texts)
        }


def test_simhash_matches_python(spark):
    text = "alpha beta gamma delta"
    df = _docs(spark, [text])
    got = simhash16_df(df, "doc_id", "text").collect()[0]["simhash"]
    assert got == simhash16(text.split(" "))


def test_ngram_jaccard_pairs(spark):
    a = "a b c d e f g h"
    df = _docs(spark, [a, a, "x y z w v u t s"])
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert [(p["src_id"], p["dst_id"], p["jaccard"]) for p in pairs] == [(0, 1, 1.0)]


def test_ngram_jaccard_hot_gram_cap(spark):
    from pytorch_ie_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, "shared boiler plate text " + ("alpha beta gamma" if i < 2 else f"unique{i} x{i} y{i}")) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # uncapped: the shared boilerplate gram joins every doc pair
    full = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.0)
    # capped at 2: grams in >2 docs leave the join; docs 0/1 still pair via
    # their private 'alpha beta gamma' grams
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.0, max_gram_freq=2
    )
    full_pairs = {(r["src_id"], r["dst_id"]) for r in full.collect()}
    capped_pairs = {(r["src_id"], r["dst_id"]) for r in capped.collect()}
    assert (0, 1) in capped_pairs
    assert capped_pairs < full_pairs  # strictly fewer joined pairs


def test_minhash_bucket_cap_window_path(spark):
    """The fused (window-count) bucket cap: capped run equals the exact run
    when no bucket exceeds the cap, and a tiny cap drops the viral bucket's
    pairs while lsh_dropped_buckets reports it."""
    from pytorch_ie_spark.operators.dedup import lsh_dropped_buckets

    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = [base, base + " ok", base + " no", "entirely different content x"]
    df = _docs(spark, texts)
    exact = sorted(
        map(tuple, minhash_lsh_pairs(df, "doc_id", "text").collect())
    )
    roomy = sorted(
        map(
            tuple,
            minhash_lsh_pairs(df, "doc_id", "text", max_bucket=100).collect(),
        )
    )
    assert exact == roomy and len(exact) >= 3  # 3 near-dup pairs
    # cap=2: the 3-doc band buckets are dropped -> no pairs survive them
    capped = minhash_lsh_pairs(df, "doc_id", "text", max_bucket=2).collect()
    assert len(capped) < len(exact)
    dropped = lsh_dropped_buckets(df, "doc_id", "text", max_bucket=2).collect()
    assert len(dropped) > 0 and all(r["bucket_size"] > 2 for r in dropped)


def test_star_cc_raises_when_not_converged(spark):
    from pytorch_ie_spark.operators.canonicalize import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(40)], "src string, dst string"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(edges, max_iter=1)


def test_simhash_banding_is_exact(spark):
    """Pigeonhole guarantee: the 2-band bucket join finds EXACTLY the
    hamming<=1 pairs a brute-force comparison finds."""
    from itertools import combinations

    from pytorch_ie_spark.operators.dedup import (
        simhash16,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} shared text body {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    sims = {r["doc_id"]: r["simhash"] for r in simhash16(docs, "doc_id", "text").collect()}
    brute = sorted(
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for a, b in combinations(sorted(sims), 2)
        if bin(sims[a] ^ sims[b]).count("1") <= 1
    )
    banded = sorted(
        map(
            tuple,
            simhash_near_dup_pairs(
                docs, "doc_id", "text", max_hamming=1, n_bands=2
            ).collect(),
        )
    )
    assert banded == brute
    assert len(brute) > 0  # the fixture really exercises the path


def test_simhash_banding_rejects_incomplete_coverage():
    import pytest as _pytest

    from pytorch_ie_spark.operators.dedup import simhash_near_dup_pairs

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(None, "doc_id", "text", max_hamming=2, n_bands=2)


def test_simhash60_banding_is_exact(spark):
    """60-bit variant: banded result == brute force at hamming<=3."""
    from itertools import combinations

    from pytorch_ie_spark.operators.dedup import (
        simhash60,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"shared body text w{i % 5} tail {i % 2}") for i in range(30)],
        "doc_id long, text string",
    )
    sims = {r["doc_id"]: r["simhash"] for r in simhash60(docs, "doc_id", "text").collect()}
    assert all(0 <= s < 2**60 for s in sims.values())
    brute = sorted(
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for a, b in combinations(sorted(sims), 2)
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    )
    banded = sorted(
        map(
            tuple,
            simhash_near_dup_pairs(
                docs, "doc_id", "text", max_hamming=3, n_bands=4, sig_bits=60
            ).collect(),
        )
    )
    assert banded == brute
    assert len(brute) > 0
