"""Similarity search over an embedding column (array<float>).

Three paths:
  - brute-force cosine top-k: broadcast the (small) query set against all
    vectors; dot/norms via higher-order functions (zip_with + aggregate),
    fully JVM-side — the exact baseline,
  - LSH-bucketed ANN: deterministic random-hyperplane signatures (weights
    ±1 derived from md5(plane|dim), engine-portable) bucket the vectors;
    candidates are same-bucket only — a 100 TB scale path (bucket join
    instead of cross join),
  - IVF ANN: vectors assigned to their nearest centroid (inverted lists);
    a query probes only its `nprobe` nearest lists. At cluster scale the
    lists are the partitioning key, so a probe is partition pruning — the
    other standard ANN architecture next to LSH.

Embedding near-duplicate detection (cosine >= threshold within a block) is
the embedding leg of the dedup family.

The literal-heavy expressions (hyperplane sign bits, cosines against
literal centroids) are built from SQL strings with `F.expr`, so their
columns take one JVM call each instead of one per literal and lambda node;
they name their input columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id) top-k cosine neighbors, self excluded.

    Ties broken by neighbor_id; ranks are what downstream consumers need and
    are float-precision-robust (scores stay internal). Vectors are cast to
    double before arithmetic so results match a float64 oracle."""
    from ..plans.skew import ensure_parallelism

    # fan the scan out (a small embeddings parquet plans as 1-2 splits and
    # would run every per-row fold on 1-2 cores), pin the casted frame
    # (queries + candidate side both read it), and compute each vector's
    # norm ONCE per row instead of once per (query, candidate) pair — the
    # same fold over the same doubles, so cosines are bit-identical
    base = (
        ensure_parallelism(embeddings)
        .select(
            F.col(id_col).cast("long").alias("nid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "vec"
            ),
        )
        .withColumn("nrm", _norm(F.col("vec")))
        .localCheckpoint(eager=False)
    )
    queries = base.where(F.col("nid").isin([int(q) for q in query_ids])).select(
        F.col("nid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    joined = base.join(F.broadcast(queries), F.col("nid") != F.col("query_id"))
    cos = (_dot(F.col("qvec"), F.col("vec")) / (F.col("qn") * F.col("nrm"))).alias("cos")
    scored = joined.select("query_id", F.col("nid").alias("neighbor_id"), cos)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def brute_force_topk_two_phase(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """brute_force_topk for the few-queries x huge-corpus regime.

    The windowed variant shuffles EVERY candidate of a query into one
    partition before ranking — fine when many queries spread the load, a
    single-partition bottleneck when a handful of queries scan 10^9
    vectors. Here each input partition first reduces to its LOCAL top-k
    per query (mapInPandas, no shuffle), so the global rank only sees
    k x num_partitions rows per query. Identical results (asserted in
    tests): top-k of a union is the top-k of per-part top-ks."""
    from typing import Iterator

    import pandas as pd

    base = embeddings.select(
        F.col(id_col).cast("long").alias("nid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    queries = base.where(F.col("nid").isin([int(q) for q in query_ids])).select(
        F.col("nid").alias("query_id"), F.col("vec").alias("qvec")
    )
    joined = base.join(F.broadcast(queries), F.col("nid") != F.col("query_id"))
    cos = (
        _dot(F.col("qvec"), F.col("vec"))
        / (_norm(F.col("qvec")) * _norm(F.col("vec")))
    ).alias("cos")
    scored = joined.select("query_id", F.col("nid").alias("neighbor_id"), cos)

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # fold a RUNNING per-query top-k across Arrow batches: resident
        # memory is one batch + k x num_queries rows, never the whole
        # partition (which is unbounded at 10^9 vectors/partition)
        best: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cand = (
                pdf
                if best is None
                else pd.concat([best, pdf], ignore_index=True)
            )
            cand = cand.sort_values(
                ["query_id", "cos", "neighbor_id"],
                ascending=[True, False, True],
            )
            best = cand.groupby("query_id", sort=False).head(k)
        if best is not None:
            yield best

    reduced = scored.mapInPandas(
        local_topk, schema="query_id long, neighbor_id long, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def hyperplane_weight(p: int, i: int) -> float:
    """Deterministic ±1 weight for (plane p, dim i): +1 iff the first hex
    char of md5('p|i') >= '8'. Engine-portable (oracles recompute the same
    md5 in SQL); the Spark side precomputes it HERE, on the driver — the
    weights are constants, so evaluating 512 md5 calls per ROW (the naive
    in-plan expression) is pure waste."""
    import hashlib

    return 1.0 if hashlib.md5(f"{p}|{i}".encode()).hexdigest()[0] >= "8" else -1.0


def hyperplane_signature_cols(vec_col: str, num_planes: int = 8, dim: int | None = None):
    """Deterministic random-hyperplane sign bits of the double-array column
    named `vec_col` (see `hyperplane_weight`): one int column bit{p} per
    plane.

    The projection is computed on 1e6-quantized integer terms so the sign is
    exact and engine/order-independent (a float sum could flip a near-zero
    projection between engines).

    When `dim` is known (any production embedding column has a fixed
    dimension) the weights are embedded as literal arrays — zero per-row
    hashing. Without `dim` the weights are derived in-plan per row; only
    acceptable for ad-hoc inputs. Each bit is one SQL string, as
    `dedup._minhash_struct_col` is: one JVM call per plane, where a
    Column-built fold costs one per literal and lambda node."""

    def weights_sql(p: int) -> str:
        if dim is not None:
            return "array(" + ", ".join(f"{hyperplane_weight(p, i)}D" for i in range(dim)) + ")"
        return (
            f"transform(sequence(0, size(`{vec_col}`) - 1), "
            f"i -> CASE WHEN substring(md5(concat('{p}|', CAST(i AS STRING))), 1, 1) >= '8' "
            "THEN 1.0D ELSE -1.0D END)"
        )

    return [
        F.expr(
            f"CASE WHEN aggregate(zip_with(`{vec_col}`, {weights_sql(p)}, "
            "(x, w) -> CAST(round(x * w * 1000000.0D, 0) AS BIGINT)), 0L, (acc, v) -> acc + v) > 0 "
            f"THEN 1 ELSE 0 END AS bit{p}"
        )
        for p in range(num_planes)
    ]


def lsh_bucketed_ann(
    embeddings: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate neighbors: only same-signature pairs are scored.
    Returns (query_id, rank, neighbor_id, bucket) per bucketed query.
    Pass `dim` so the hyperplane weights become plan literals."""
    base = embeddings.select(
        F.col(id_col).cast("long").alias("nid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    bits = hyperplane_signature_cols("vec", num_planes, dim=dim)
    sig = base.select("nid", "vec", F.concat_ws("", *bits).alias("bucket"))
    a = sig.select("bucket", F.col("nid").alias("query_id"), F.col("vec").alias("qvec"))
    b = sig.select(F.col("bucket").alias("bucket2"), F.col("nid").alias("neighbor_id"), "vec")
    pairs = a.join(b, (a.bucket == b.bucket2) & (F.col("query_id") != F.col("neighbor_id")))
    cos = (_dot(F.col("qvec"), F.col("vec")) / (_norm(F.col("qvec")) * _norm(F.col("vec")))).alias("cos")
    scored = pairs.select("bucket", "query_id", "neighbor_id", cos)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "bucket")
    )


def _cos_to_literal(vec_col: str, cvec: list[float], vec_norm: str | None = None):
    """Cosine of the vector column named `vec_col` against a centroid
    embedded as a literal array — same fold order as the in-table cosine
    (`_dot`, `_norm`) so engines agree. One SQL string: one JVM call, not
    one per centroid component.

    The centroid's norm is folded in Python at plan-build time with the
    same left-fold order as the HOF fold over the same IEEE doubles, so
    the literal is bit-identical while the per-row plan drops a 64-element
    fold per centroid. `vec_norm` optionally names a precomputed per-row
    norm column (again the same fold, computed once per row rather than
    once per centroid)."""
    import math

    arr = "array(" + ", ".join(f"{float(x)!r}D" for x in cvec) + ")"
    acc = 0.0
    for x in cvec:
        acc += float(x) * float(x)
    vn = (
        f"`{vec_norm}`"
        if vec_norm is not None
        else f"sqrt(aggregate(`{vec_col}`, 0.0D, (acc, v) -> acc + v * v))"
    )
    return F.expr(
        f"aggregate(zip_with(`{vec_col}`, {arr}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v) "
        f"/ ({vn} * {math.sqrt(acc)!r}D)"
    )


def ivf_assign_broadcast(
    base: DataFrame, centroids: DataFrame
) -> DataFrame:
    """Centroid assignment via a broadcast join — the shape that survives
    real centroid counts (a 4k-centroid index would bloat literal plans;
    a broadcast DF join stays O(1) plan size). base: (nid, vec);
    centroids: (cid, cvec). Returns (nid, vec, centroid_id) with
    argmax-cosine assignment, ties to the lowest cid, via one map-side
    max_by aggregation (no window shuffle)."""
    joined = base.join(F.broadcast(centroids))
    cos = _dot(F.col("vec"), F.col("cvec")) / (
        _norm(F.col("vec")) * _norm(F.col("cvec"))
    )
    scored = joined.select(
        "nid",
        "vec",
        F.struct(
            cos.alias("cos"), (-F.col("cid")).cast("long").alias("negcid")
        ).alias("sc"),
    )
    return (
        scored.groupBy("nid")
        .agg(
            F.first("vec").alias("vec"),
            (-F.max("sc")["negcid"]).alias("centroid_id"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    num_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: (query_id, rank, neighbor_id, centroid_id).

    'Training' is deterministic (centroids = the first `num_centroids`
    vectors by id) so the index is reproducible and oracle-checkable; the
    search path is the real IVF shape:
      1. assign every vector to its argmax-cosine centroid in one JVM-side
         projection (centroids broadcast as literals — the 'small dim'),
      2. a query probes its `nprobe` nearest centroids only,
      3. candidates = vectors in the probed inverted lists (broadcast join
         on centroid_id; at cluster scale the lists are the partition key,
         so this is partition pruning, never a cross join).
    Ties broken by centroid/neighbor id; ranks returned, scores internal."""
    from ..plans.skew import ensure_parallelism

    # fan the scan out, compute each vector's norm once per row (shared by
    # all num_centroids assignment cosines AND the candidate scoring), and
    # pin the assigned table (queries + the probe join both read it)
    base = (
        ensure_parallelism(embeddings)
        .select(
            F.col(id_col).cast("long").alias("nid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "vec"
            ),
        )
        .withColumn("nrm", _norm(F.col("vec")))
    )
    cents = sorted(
        (r["nid"], r["vec"])
        for r in base.where(F.col("nid") < num_centroids).collect()
    )
    # struct(cos, -cid): array_max/array_sort order by cos, ties -> min cid
    def scored_cents(vcol: str, norm_col: str):
        return F.array(
            *[
                F.struct(
                    _cos_to_literal(vcol, cvec, vec_norm=norm_col).alias(
                        "cos"
                    ),
                    F.lit(-cid).cast("long").alias("negcid"),
                )
                for cid, cvec in cents
            ]
        )

    assigned = base.withColumn(
        "centroid_id",
        -F.array_max(scored_cents("vec", "nrm"))["negcid"],
    ).localCheckpoint(eager=False)
    queries = assigned.where(
        F.col("nid").isin([int(q) for q in query_ids])
    ).select(
        F.col("nid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    probe_arr = F.slice(
        F.reverse(F.array_sort(scored_cents("qvec", "qn"))),
        1,
        nprobe,
    )
    probes = queries.select(
        "query_id", "qvec", "qn", F.explode(probe_arr).alias("p")
    ).select(
        "query_id", "qvec", "qn", (-F.col("p.negcid")).alias("probe_cid")
    )
    cands = F.broadcast(probes).join(
        assigned,
        (F.col("probe_cid") == F.col("centroid_id"))
        & (F.col("nid") != F.col("query_id")),
    )
    cos = (
        _dot(F.col("qvec"), F.col("vec")) / (F.col("qn") * F.col("nrm"))
    ).alias("cos")
    scored = cands.select(
        "query_id", F.col("nid").alias("neighbor_id"), "centroid_id", cos
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "centroid_id")
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-dup pairs within a blocking column (label / LSH bucket)."""
    # pin (both join sides read the casted/blocked frame once) and spread
    # the probe side: the blocked self-join fans out quadratically per
    # block, so probe tasks must stay bounded regardless of the tiny input
    # AQE sizes from (a user-specified repartition is never coalesced)
    base = embeddings.select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(block_col).cast("string").alias("block"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        # per-vector norm computed ONCE per side row, not per pair — the
        # same sqrt/fold of the same doubles, so the cosine stays
        # bit-identical while the pair stage only pays the dot product
        _norm(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("nrm"),
    ).localCheckpoint(eager=False)
    n_out = embeddings.sparkSession.sparkContext.defaultParallelism * 4
    a = base.select(
        "block",
        F.col("nid").alias("src_id"),
        F.col("vec").alias("src_v"),
        F.col("nrm").alias("src_n"),
    ).repartition(n_out, "block")
    b = base.select(
        F.col("block").alias("block2"),
        F.col("nid").alias("dst_id"),
        F.col("vec").alias("dst_v"),
        F.col("nrm").alias("dst_n"),
    )
    pairs = a.join(b, (a.block == b.block2) & (F.col("src_id") < F.col("dst_id")))
    cos = _dot(F.col("src_v"), F.col("dst_v")) / (F.col("src_n") * F.col("dst_n"))
    return (
        pairs.select("block", "src_id", "dst_id", F.round(cos, 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )
