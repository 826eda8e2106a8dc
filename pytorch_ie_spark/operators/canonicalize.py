"""Entity linking + surface-form canonicalization.

New functionality vs the reference (SURVEY.md §7 M4; reference's closest
analogs are the coref similarity scoring in cross_text_binary_coref.py and
the merge+dedup in utils/document.py:76-144):

  1. normalize surface forms (JVM-side string expressions),
  2. entity linking against a broadcast alias dictionary (equi-join; an
     alias key shared by several entities links the minimum entity id),
  3. MinHash-LSH blocking over char-shingles of the normalized surface ->
     candidate equivalence edges within (capped) LSH buckets,
  4. verify edges by exact Jaccard on shingle sets,
  5. connected components, each labelled with its minimum node,
  6. entity_id = 'sf:' + the component label, i.e. the lexicographic min
     normalized form per component (null for an empty normalized form).

Hybrid execution: the distinct-surface table of a corpus is small next to
its mentions, so `canonicalize_mentions` fetches it with one bounded
`limit(DRIVER_SURFACES + 1).collect()`. At or under that bound, steps 3-5
run on the driver (`_driver_surface_components`: the band stack from
`hashing.minhash_matrix`, the bucket cap and its audit, pair
generation, the Jaccard check and the union-find), provided the capped
candidate pairs (sum of C(n, 2) over the kept buckets, known before any
pair is built) fit under `DRIVER_PAIRS`; the result returns as one
Arrow-built LocalRelation. Otherwise steps 3-5 run in Spark on the same
pinned surfaces (`_spark_surface_components`): the MinHash-LSH core of
operators/dedup.py (band stack, bucket cap, band self-join, Jaccard
check), then `connected_components`, itself a driver union-find below
100k edges and large-star/small-star rounds above it. Both paths give the
same components (asserted in tests/test_canonicalize.py).

Scale notes: bucket sizes are capped (`max_bucket`) so a degenerate band
(stopword-ish surface) cannot produce a quadratic pair explosion — dropped
buckets are logged, not silent.
"""

from __future__ import annotations

import logging
from collections import defaultdict
from itertools import combinations, repeat

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import char_shingles, jaccard, minhash_matrix
from .dedup import (
    band_stack,
    bucket_pairs,
    cap_buckets,
    char_shingles_col,
    dropped_buckets,
    jaccard_pairs,
)

logger = logging.getLogger(__name__)

#: the most distinct surfaces canonicalized on the driver: on a 4-core VM
#: the driver path (NumPy MinHash) beat the Spark path at every size
#: measured, 5.3-5.9 s against 14.4 s at 180k surfaces, the largest set
#: run in two rounds (scripts/bench_canonicalize_bound.py,
#: BENCH_canon_bound_r08.json)
DRIVER_SURFACES = 180_000
#: the most capped candidate pairs the driver path checks: it beat the
#: Spark path ~7x on the largest pair-heavy set measured (1.34M pairs, a
#: 1000-member boilerplate group); the bound keeps a degenerate bucket
#: (with `max_bucket=None`) off the driver
DRIVER_PAIRS = 1_350_000


def normalize_surface(col):
    """lowercase, strip non-alphanumerics, collapse whitespace — JVM-side."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9 ]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def link_entities(
    mentions: DataFrame, alias_dict: DataFrame, alias_col: str = "alias",
    entity_col: str = "entity_id"
) -> DataFrame:
    """Dictionary entity linking: normalized-surface equi-join against a small
    alias table — broadcast by hint (the dictionary is the 'small dim'). An
    alias that normalizes to "" links nothing (it would match every surface
    with no Latin letter or digit); aliases that normalize to the same key
    link the minimum of their entity ids."""
    aliases = (
        alias_dict.select(
            normalize_surface(F.col(alias_col)).alias("_norm"),
            F.col(entity_col).alias("_eid"),
        )
        .where(F.col("_norm") != "")
        # aliases that collide after normalization link the minimum id,
        # whatever the row order or partitioning of the dictionary
        .groupBy("_norm")
        .agg(F.min("_eid").alias("linked_entity_id"))
    )
    m = mentions.withColumn("_norm", normalize_surface(F.col("surface")))
    return m.join(F.broadcast(aliases), "_norm", "left").drop("_norm")


def _surface_shingles(
    surfaces: DataFrame, surface_col: str, shingle_k: int
) -> DataFrame:
    """(node, shingles) of the non-empty surfaces; `surfaces` is distinct."""
    return (
        surfaces.select(F.col(surface_col).alias("node"))
        .where(F.length("node") > 0)
        .withColumn("shingles", char_shingles_col(F.col("node"), shingle_k))
    )


def _verified_edges(
    base: DataFrame,
    stacked: DataFrame,
    jaccard_threshold: float,
    max_bucket: int | None,
) -> DataFrame:
    """(src, dst, jaccard) edges of the capped band self-join. No fan-out:
    the surface graph is small, and a keyed repartition only adds tasks."""
    pairs = bucket_pairs(
        cap_buckets(stacked, max_bucket), "node", "src", "dst", fan_out=False
    )
    return jaccard_pairs(
        pairs, base, base, "node", "src", "dst", jaccard_threshold
    )


def lsh_candidate_edges(
    surfaces: DataFrame,
    surface_col: str = "surface_norm",
    shingle_k: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """surfaces: distinct rows with `surface_col`. Returns verified candidate
    edges (src, dst, jaccard) with src < dst.

    `max_bucket=None` (default) is exact. At corpus scale pass a cap: band
    buckets above it are dropped before the self-join (quadratic otherwise);
    the cap is a window count inside the self-join's own band_key shuffle."""
    base = _surface_shingles(surfaces, surface_col, shingle_k)
    stacked = band_stack(base, "node", num_hashes, band_size)
    return _verified_edges(base, stacked, jaccard_threshold, max_bucket)


def _warn_dropped(max_bucket: int, n_buckets: int, n_rows: int) -> None:
    if n_buckets:
        logger.warning(
            "canonicalize_mentions: max_bucket=%d dropped %d band "
            "bucket(s) covering %d surface-band rows — entity-id "
            "assignment is approximate for those surfaces",
            max_bucket, n_buckets, n_rows,
        )


def _band_buckets(shingles: list[list[str]]) -> list[list[int]]:
    """The band buckets of the band stack (4 bands of 4 MinHash components)
    over non-empty shingle lists: the ascending row indices sharing each
    band key. A key is (band, its 4 components), equal exactly when the
    Spark path's "band|mh|mh|mh|mh" string keys are equal."""
    sig = minhash_matrix(shingles, 16)
    buckets = defaultdict(list)
    for band in range(4):
        columns = sig[:, 4 * band : 4 * band + 4].T.tolist()
        for i, key in enumerate(zip(repeat(band), *columns)):
            buckets[key].append(i)
    return list(buckets.values())


def _driver_surface_components(
    spark,
    surfaces: list,
    shingle_k: int,
    jaccard_threshold: float,
    max_bucket: int | None,
) -> DataFrame | None:
    """Steps 3-5 on the driver over the collected distinct surfaces, with
    the Spark path's semantics: the band stack (4 bands of 4 MinHash
    components), buckets of more than `max_bucket` members dropped and
    logged, src < dst pairs of the kept buckets, the unrounded Jaccard
    check, and the union-find. Returns the (surface_norm, component) map
    ("" and null keep themselves), or None when the capped candidate pairs
    exceed DRIVER_PAIRS."""
    # sorted, so a pair of member indices i < j is the pair src < dst
    nodes = sorted(s for s in surfaces if s)
    # char_shingles_col's sets: normalized surfaces are already lowercase
    shingles = [char_shingles(s, shingle_k) for s in nodes]
    buckets = _band_buckets(shingles)
    kept = [m for m in buckets if max_bucket is None or len(m) <= max_bucket]
    if sum(len(m) * (len(m) - 1) // 2 for m in kept) > DRIVER_PAIRS:
        return None
    if max_bucket is not None:
        over = [len(m) for m in buckets if len(m) > max_bucket]
        _warn_dropped(max_bucket, len(over), sum(over))
    sets = [set(sh) for sh in shingles]
    edges = [
        (nodes[i], nodes[j])
        for i, j in {pair for m in kept for pair in combinations(m, 2)}
        if jaccard(sets[i], sets[j]) >= jaccard_threshold
    ]
    return _driver_side_components(spark, edges, surfaces).toDF(
        "surface_norm", "component"
    )


def _driver_side_components(spark, edge_rows, nodes=()) -> DataFrame:
    """Union-find on the driver for small graphs — identical output contract
    (component = min node label: a union parents the larger root to the
    smaller). `nodes` adds vertices, edged or not: a singleton is its own
    component. Returned from an Arrow table, i.e. a LocalRelation the
    optimizer can size and broadcast, not a pickled Python RDD."""
    parent = {n: n for n in nodes}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    names = list(parent)
    schema = pa.schema([("node", pa.string()), ("component", pa.string())])
    table = pa.table([names, [find(n) for n in names]], schema=schema)
    return spark.createDataFrame(table)


def _sym_explode(edges: DataFrame) -> DataFrame:
    """Both directions of every edge in ONE pass: explode([(s,d),(d,s)]).
    A union of the frame with its swapped self evaluates the upstream
    edge-producing lineage twice; this shape reads it once."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _symmetrize(edges: DataFrame) -> DataFrame:
    return (
        _sym_explode(edges.select("src", "dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def connected_components_star(
    edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds on ANY graph shape, including the chains that make
    min-label propagation take O(diameter) rounds.

    One round, on the symmetrized edge list:
      m(u) = min(u, min over neighbors of u)
      large-star: for each edge (u, v) with v > u  -> emit (v, m(u))
      small-star: for each edge (u, v) with v <= u -> emit (v, m(u)),
                  plus (u, m(u))
    Iterate until the canonical edge set stops changing; at the fixed point
    every edge connects a node to its component minimum. Returns
    (node, component)."""
    cur = _symmetrize(edges).localCheckpoint()
    changed = None
    for _ in range(max_iter):
        nbr_min = cur.groupBy("src").agg(F.min("dst").alias("_mn"))
        m = F.least(F.col("src"), F.col("_mn")).alias("m")
        j = cur.join(nbr_min, "src").select("src", "dst", m)
        large = j.where(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        small = j.where(F.col("dst") <= F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        self_edge = j.select(F.col("src"), F.col("m").alias("dst"))
        nxt = _symmetrize(
            large.union(small).union(self_edge)
        ).localCheckpoint()
        changed = (
            nxt.join(cur, ["src", "dst"], "left_anti").limit(1).count()
            + cur.join(nxt, ["src", "dst"], "left_anti").limit(1).count()
        )
        cur = nxt
        if changed == 0:
            break
    if changed != 0:
        # a silent return here would hand the caller WRONG components with
        # no signal; the star rounds converge in O(log n), so hitting the
        # bound means max_iter is simply too small for the graph
        raise RuntimeError(
            f"connected_components_star did not converge within {max_iter} "
            "rounds (edge set still changing); raise max_iter"
        )
    # fixed point: stars around component minima
    return (
        cur.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "_m").alias("component"),
        )
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 100_000
) -> DataFrame:
    """(src, dst) string edges -> (node, component = min node label).

    Hybrid execution: equivalence graphs are usually tiny relative to the
    corpus (distinct near-duplicate surface pairs), so at or below
    `driver_threshold` edges we run union-find on the driver. One bounded
    collect of at most `2 * driver_threshold + 1` directed rows (each edge
    is two: both directions) is both the size probe and the edge list.
    Above the threshold, the distributed path is alternating
    large-star/small-star (connected_components_star): O(log n) rounds on
    ANY graph shape, where min-label propagation needs O(diameter) rounds
    and crawls on chains. Both paths produce component = min node label,
    so results are identical (asserted in tests/test_canonicalize.py).
    """
    und = (
        _sym_explode(edges.select("src", "dst"))
        # materialize once: the size probe AND the first star round would
        # otherwise re-run the full upstream lineage that produced the edges
        # (and the single-pass explode halves that lineage vs a self-union)
        .localCheckpoint()
    )
    rows = und.limit(2 * driver_threshold + 1).collect()
    if len(rows) <= 2 * driver_threshold:
        return _driver_side_components(edges.sparkSession, rows)
    return connected_components_star(und, max_iter=max_iter)


def _spark_surface_components(
    surfaces: DataFrame,
    shingle_k: int,
    jaccard_threshold: float,
    max_bucket: int | None,
) -> DataFrame:
    """Steps 3-5 in Spark over the pinned distinct surfaces: the
    (surface_norm, component) map, "" and null keeping themselves."""
    # ONE pinned band stack shared between the audit aggregate and the
    # candidate self-join
    base = _surface_shingles(surfaces, "surface_norm", shingle_k)
    stacked = band_stack(base, "node", 16, 4)
    if max_bucket is not None:
        # .first(), not DataFrame.observe: an observation fails when AQE
        # prunes the observed branch on tiny input
        dropped = (
            dropped_buckets(stacked, max_bucket)
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("n_rows"),
            )
            .first()
        )
        _warn_dropped(max_bucket, dropped["n_buckets"], dropped["n_rows"])
    edges = _verified_edges(base, stacked, jaccard_threshold, max_bucket)
    comps = connected_components(edges)
    # singletons (no edges) keep themselves as component
    return surfaces.join(comps, surfaces.surface_norm == comps.node, "left").select(
        "surface_norm",
        F.coalesce(F.col("component"), F.col("surface_norm")).alias("component"),
    )


def canonicalize_mentions(
    mentions: DataFrame,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    alias_dict: DataFrame | None = None,
    max_bucket: int | None = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Full canonicalization: returns (mention_entity_map, components).

    mention_entity_map: (mention_id, entity_id) where entity_id is the linked
    dictionary id when available, else 'sf:' + the label of the mention's
    connected component (its minimum normalized surface), else null for a
    surface that normalizes to the empty string. components:
    (surface_norm, component) per distinct normalized surface.

    This is a corpus-scale entry point, so the LSH quadratic-bucket guard is
    ON by default (`max_bucket=1000`: one degenerate band key otherwise makes
    the candidate self-join O(n^2)); pass None for the exact variant the
    oracle-gated dedup queries use. When the cap engages, the dropped-bucket
    counts are logged at WARNING so the approximation is observable at
    runtime.

    Up to DRIVER_SURFACES distinct surfaces (and DRIVER_PAIRS capped
    candidate pairs) are canonicalized on the driver, above either in
    Spark; see the module docstring.
    """
    # pin the distinct-surface table: the size probe and, above the bound,
    # the band stack and the singleton join all read it — unpinned, each
    # action re-runs the full-mention dropDuplicates shuffle
    surfaces = (
        mentions.select(
            normalize_surface(F.col("surface")).alias("surface_norm")
        )
        .dropDuplicates(["surface_norm"])
        .localCheckpoint(eager=False)
    )
    # one bounded collect: both the size probe and the driver path's input
    probe = surfaces.limit(DRIVER_SURFACES + 1).collect()
    comps_full = None
    if len(probe) <= DRIVER_SURFACES:
        comps_full = _driver_surface_components(
            mentions.sparkSession,
            [r["surface_norm"] for r in probe],
            shingle_k,
            jaccard_threshold,
            max_bucket,
        )
    if comps_full is None:
        comps_full = _spark_surface_components(
            surfaces, shingle_k, jaccard_threshold, max_bucket
        )
    # a component's label is its min surface, i.e. the canonical one. A
    # surface that normalizes to "" gets no id (triples keep its raw surface)
    surface_entity = comps_full.select(
        "surface_norm",
        F.when(
            F.col("surface_norm") != "", F.concat(F.lit("sf:"), F.col("component"))
        ).alias("cc_entity_id"),
    )
    m = mentions.withColumn("surface_norm", normalize_surface(F.col("surface")))
    if alias_dict is not None:
        m = link_entities(m, alias_dict)
    else:
        m = m.withColumn("linked_entity_id", F.lit(None).cast("string"))
    mapped = (
        m.join(surface_entity, "surface_norm", "left")
        .select(
            "mention_id",
            F.coalesce(F.col("linked_entity_id"), F.col("cc_entity_id")).alias("entity_id"),
        )
    )
    return mapped, comps_full
