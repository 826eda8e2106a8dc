"""Similarity search: brute-force cosine top-k + LSH bucketing."""

from pytorch_ie_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_bucketed_ann,
)


def _emb(spark, vectors):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<float>, label int",
    )


def test_brute_force_topk_exact(spark):
    vs = [
        [1.0, 0.0],   # 0: query
        [0.9, 0.1],   # 1: closest
        [0.5, 0.5],   # 2
        [0.0, 1.0],   # 3: orthogonal
    ]
    out = brute_force_topk(_emb(spark, vs), [0], k=3).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]


def test_topk_excludes_self_and_limits(spark):
    vs = [[1.0, 0.0]] * 5
    out = brute_force_topk(_emb(spark, vs), [0], k=2).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 0 not in ids and len(out) == 2


def test_lsh_bucket_recall_on_identical_vectors(spark):
    vs = [[1.0, 2.0, 3.0, 4.0]] * 3 + [[-1.0, -2.0, -3.0, -4.0]] * 2
    out = lsh_bucketed_ann(_emb(spark, vs), k=5, num_planes=4).collect()
    # identical vectors share a bucket -> each of the 3 finds the other 2
    neigh = {}
    for r in out:
        neigh.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert neigh[0] == {1, 2}
    assert neigh[3] == {4}


def test_embedding_near_duplicates_threshold(spark):
    vs = [[1.0, 0.0], [1.0, 0.001], [0.0, 1.0]]
    pairs = embedding_near_duplicates(_emb(spark, vs), threshold=0.99).collect()
    assert [(p["src_id"], p["dst_id"]) for p in pairs] == [(0, 1)]


def test_ivf_assigns_and_probes(spark):
    from pytorch_ie_spark.operators.similarity import ivf_topk

    # centroids = ids 0,1 (x-axis-ish vs y-axis-ish); the rest cluster around
    # them so the inverted lists are unambiguous
    vs = [
        [1.0, 0.0],    # 0: centroid A
        [0.0, 1.0],    # 1: centroid B
        [0.95, 0.05],  # 2: in A's list
        [0.9, 0.1],    # 3: in A's list
        [0.05, 0.95],  # 4: in B's list
    ]
    out = ivf_topk(_emb(spark, vs), [0], num_centroids=2, nprobe=1, k=5).collect()
    # nprobe=1 from query 0 probes only list A -> neighbors 2,3 (and not 4)
    got = {(r["neighbor_id"], r["centroid_id"]) for r in out}
    assert got == {(2, 0), (3, 0)}
    ranks = {r["neighbor_id"]: r["rank"] for r in out}
    assert ranks[2] == 1 and ranks[3] == 2

    # nprobe=2 reaches both lists; 4 ([0.05,0.95], cos~0.052) outranks the
    # orthogonal centroid 1 (cos 0)
    out2 = ivf_topk(_emb(spark, vs), [0], num_centroids=2, nprobe=2, k=5).collect()
    by_rank = [r["neighbor_id"] for r in sorted(out2, key=lambda r: r["rank"])]
    assert by_rank == [2, 3, 4, 1]


def test_ivf_broadcast_assignment_matches_literal(spark):
    """The broadcast-DF centroid assignment (the real-centroid-count shape)
    must agree with the literal-embedding argmax used by ivf_topk."""
    from pyspark.sql import functions as F

    from pytorch_ie_spark.operators.similarity import (
        _cos_to_literal,
        ivf_assign_broadcast,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    cents = sorted(
        (r["nid"], r["vec"]) for r in base.where(F.col("nid") < 8).collect()
    )
    # literal path (ivf_topk's internal assignment)
    scored = F.array(
        *[
            F.struct(
                _cos_to_literal("vec", cv).alias("cos"),
                F.lit(-cid).cast("long").alias("negcid"),
            )
            for cid, cv in cents
        ]
    )
    lit = base.withColumn("centroid_id", -F.array_max(scored)["negcid"]).select(
        "nid", "centroid_id"
    )
    cdf = spark.createDataFrame(
        [(cid, cv) for cid, cv in cents], "cid long, cvec array<double>"
    )
    bc = ivf_assign_broadcast(base, cdf).select("nid", "centroid_id")
    a = sorted(map(tuple, lit.collect()))
    b = sorted(map(tuple, bc.collect()))
    assert a == b


def test_two_phase_topk_equals_windowed(spark):
    """Per-partition local top-k + global rank must equal the single-window
    ranking on the sf0.01 embeddings."""
    from pytorch_ie_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_two_phase,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").repartition(8)
    qids = [0, 3, 11]
    a = sorted(map(tuple, brute_force_topk(emb, qids, k=5).collect()))
    b = sorted(map(tuple, brute_force_topk_two_phase(emb, qids, k=5).collect()))
    assert a == b
