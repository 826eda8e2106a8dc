"""Query registry: every operator exposed as (spark_fn, oracle_sql) pairs.

Each entry is one operator family from SURVEY.md §2 (or a training-data
pipeline extension), implemented Spark-first in this package, plus an
equivalent ANSI-SQL oracle that DuckDB runs on the same parquet tables.

Engine-portability contract used throughout (so value hashes match):
  - hashing is md5 hex (identical in Spark/DuckDB/Python),
  - every integer output is BIGINT/long,
  - every float output is round(x, 4..6) computed from identical inputs,
  - sums over money go through CAST(ROUND(double_expr, 4) AS DECIMAL(18,4))
    so aggregation is exact and order-independent, then CAST AS DOUBLE,
  - ties in any rank are broken by a unique key.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .operators.candidates import candidate_pairs
from .operators.canonicalize import connected_components, normalize_surface
from .operators.dedup import (
    char_shingles_col,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    normalize_text,
    simhash16,
    with_minhash_signature,
)
from .operators.metrics import pr_f1
from .operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    hyperplane_signature_cols,
    ivf_topk,
)
from .functions.hashing import MINHASH_AB, MINHASH_PRIME
from .sources.readers import read_table
from .streaming.sessions import sessionize

# ---------------------------------------------------------------- gazetteer

GAZETTEER = {
    "spark": "ENGINE",
    "hash": "ALGO",
    "merge": "ALGO",
    "sort": "ALGO",
    "scan": "OP",
    "join": "OP",
    "filter": "OP",
    "customer": "ACTOR",
    "supplier": "ACTOR",
}

RELATION_RULES = {
    ("ENGINE", "OP"): "engine:supports_op",
    ("OP", "ALGO"): "op:uses_algo",
    ("ACTOR", "ENGINE"): "actor:uses_engine",
}

ALIAS_DICT = {w: f"E:{w}" for w in GAZETTEER}

STOPWORDS = ("the", "a", "and", "at", "of", "in", "to", "it")

MAX_REL_DISTANCE = 40


def _gaz_case_sql() -> str:
    whens = " ".join(f"WHEN '{w}' THEN '{l}'" for w, l in GAZETTEER.items())
    return f"CASE surface {whens} END"


def _gaz_label_col(col=None):
    col = F.col("surface") if col is None else col
    expr = None
    for w, l in GAZETTEER.items():
        expr = (
            F.when(col == w, F.lit(l))
            if expr is None
            else expr.when(col == w, F.lit(l))
        )
    return expr


def _rule_label_col(head_label="head_label", tail_label="tail_label"):
    expr = None
    for (hl, tl), lab in RELATION_RULES.items():
        cond = (F.col(head_label) == hl) & (F.col(tail_label) == tl)
        expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
    return expr


def _rule_case_sql(h="head_label", t="tail_label") -> str:
    whens = " ".join(
        f"WHEN {h} = '{hl}' AND {t} = '{tl}' THEN '{lab}'"
        for (hl, tl), lab in RELATION_RULES.items()
    )
    return f"CASE {whens} END"


# ------------------------------------------------------------- KG pipeline

def mentions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer mentions with char offsets — the pinned frame every
    consumer shares (see _mentions_df_unpinned for the actual plan; the
    lazy checkpoint hides it behind a Scan ExistingRDD node)."""
    return _mentions_df_unpinned(spark, sf_dir).localCheckpoint(
        eager=False
    )


def _mentions_df_unpinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer mentions with char offsets over the synthetic documents
    table — token offsets computed with array HOFs (no shuffle, no UDF;
    the 100 TB pipeline path does the same inside mapInPandas, see
    operators/mentions.py). Plan-property tests assert on THIS variant
    (fan-out before the HOF, pruned scan); mentions_df pins it because
    most consumers self-join the frame."""
    from .plans.skew import ensure_parallelism

    # the sf0.1 documents parquet is a single row group -> ONE scan task;
    # every mention-derived lineage (candidate pairs, reversed relations,
    # pointer/seq2seq round-trips, coref) would otherwise materialize the
    # aggregate-HOF scan + self-join on one core. No-op on a real cluster.
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    # single-pass accumulator, linear in document length: the position
    # counter advances per token, but the collected array only grows for
    # gazetteer HITS (bounded per doc), so array_append's copy-on-grow never
    # goes quadratic on long documents — appending every token and filtering
    # after the explode re-copies the accumulator per token (O(n^2))
    structs = F.aggregate(
        toks,
        F.struct(
            F.lit(0).alias("pos"),
            F.array().cast(
                "array<struct<surface:string,start:int>>"
            ).alias("arr"),
        ),
        lambda acc, t: F.struct(
            (acc["pos"] + F.length(t) + 1).alias("pos"),
            F.when(
                t.isin(list(GAZETTEER)),
                F.array_append(
                    acc["arr"],
                    F.struct(t.alias("surface"), acc["pos"].alias("start")),
                ),
            )
            .otherwise(acc["arr"])
            .alias("arr"),
        ),
        lambda acc: acc["arr"],
    )
    exploded = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(structs).alias("m"),
    ).select(
        "doc_id",
        F.col("m.surface").alias("surface"),
        F.col("m.start").cast("long").alias("start"),
    )
    return (
        exploded
        .withColumn("end", (F.col("start") + F.length("surface")).cast("long"))
        .withColumn("label", _gaz_label_col())
    )


MENTIONS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
)
SELECT doc_id, surface, start, (start+length(surface))::BIGINT AS "end",
       {_gaz_case_sql()} AS label
FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
"""


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mentions_df(spark, sf_dir).select(
        "doc_id", "surface", "start", "end", "label"
    )


def _relations_df(
    spark: SparkSession, sf_dir: str, max_distance: int, keep_distance: bool = False
) -> DataFrame:
    """Directed co-occurrence relations via the candidate-pair operator."""
    from .functions.hashing import mention_id as _mid  # noqa: F401 (doc parity)

    m = mentions_df(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws("|", "doc_id", "start", "end", "label").alias("mention_id"),
        F.col("start").cast("int").alias("start"),
        F.col("end").cast("int").alias("end"),
        "label",
        "surface",
        F.lit(1.0).alias("score"),
        F.lit("pred").alias("source"),
        F.lit(None).cast("string").alias("content_sha256"),
    )
    pairs = candidate_pairs(m, max_distance=max_distance, distance_mode="inner")
    directed = pairs.where(F.col("head_end") <= F.col("tail_start"))
    labeled = directed.withColumn("label", _rule_label_col()).where(
        F.col("label").isNotNull()
    )
    cols = [
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("head_start").cast("long").alias("head_start"),
        F.col("head_surface"),
        F.col("tail_start").cast("long").alias("tail_start"),
        F.col("tail_surface"),
        F.col("label"),
    ]
    if keep_distance:
        cols.append(F.col("distance").cast("long").alias("distance"))
    return labeled.select(*cols)


def _relations_oracle(max_distance: int) -> str:
    gaz_list = ",".join(f"'{w}'" for w in GAZETTEER)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  -- window sum over ALL tokens first; filtering before the window would
  -- shift every offset
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, surface, start, {_gaz_case_sql()} AS label
  FROM pos WHERE surface IN ({gaz_list})
), pairs AS (
  SELECT h.doc_id,
         h.start AS head_start, h.surface AS head_surface, h.label AS head_label,
         t.start AS tail_start, t.surface AS tail_surface, t.label AS tail_label
  FROM mentions h JOIN mentions t
    ON h.doc_id = t.doc_id
   AND NOT (h.start = t.start AND h.label = t.label)
   AND h.start + length(h.surface) <= t.start
   AND t.start - (h.start + length(h.surface)) <= {max_distance}
)
SELECT doc_id, head_start, head_surface, tail_start, tail_surface,
       {_rule_case_sql()} AS label
FROM pairs
WHERE {_rule_case_sql()} IS NOT NULL
"""


def _relations_with_distance_df(
    spark: SparkSession, sf_dir: str, max_distance: int
) -> DataFrame:
    return _relations_df(spark, sf_dir, max_distance, keep_distance=True)


def q_kg_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _relations_df(spark, sf_dir, MAX_REL_DISTANCE)


def q_kg_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-pair histogram of all directed bounded-distance candidates."""
    m = mentions_df(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws("|", "doc_id", "start", "end", "label").alias("mention_id"),
        F.col("start").cast("int").alias("start"),
        F.col("end").cast("int").alias("end"),
        "label",
        "surface",
        F.lit(1.0).alias("score"),
        F.lit("pred").alias("source"),
        F.lit(None).cast("string").alias("content_sha256"),
    )
    pairs = candidate_pairs(m, max_distance=MAX_REL_DISTANCE)
    return (
        pairs.where(F.col("head_end") <= F.col("tail_start"))
        .groupBy("head_label", "tail_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


CANDIDATE_PAIRS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, surface, start, {_gaz_case_sql()} AS label
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
)
SELECT h.label AS head_label, t.label AS tail_label, count(*)::BIGINT AS n_pairs
FROM mentions h JOIN mentions t
  ON h.doc_id = t.doc_id
 AND NOT (h.start = t.start AND h.label = t.label)
 AND h.start + length(h.surface) <= t.start
 AND t.start - (h.start + length(h.surface)) <= {MAX_REL_DISTANCE}
GROUP BY 1, 2
"""


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = _relations_df(spark, sf_dir, MAX_REL_DISTANCE)
    return (
        rels.groupBy(
            F.col("head_surface").alias("subj"),
            F.col("label").alias("pred"),
            F.col("tail_surface").alias("obj"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


TRIPLES_ORACLE = f"""
WITH rels AS ({_relations_oracle(MAX_REL_DISTANCE)})
SELECT head_surface AS subj, label AS pred, tail_surface AS obj,
       count(*)::BIGINT AS n
FROM rels GROUP BY 1,2,3
"""


NEG_SAMPLE_K = 2
NEG_SAMPLE_SEED = "neg-v1"
FUNCTIONAL_PREDS = ["op:uses_algo", "actor:uses_engine"]


def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tail-corruption negative sampling for KG-embedding
    training (TransE/DistMult pair generation): replacement entity =
    dense-index lookup of md5(s|p|o|j|seed) mod N over the two-level
    bucketed entity index (row_number only within md5 buckets — never a
    global sort); accidental positives and no-op corruptions filtered."""
    from .operators.kg_train import negative_samples

    t = q_kg_triples(spark, sf_dir).select("subj", "pred", "obj")
    return negative_samples(t, k=NEG_SAMPLE_K, seed=NEG_SAMPLE_SEED)


KG_NEGATIVE_SAMPLES_ORACLE = f"""
WITH rels AS ({{rels}}),
t AS (
  SELECT DISTINCT head_surface AS subj, label AS pred, tail_surface AS obj
  FROM rels
), ents AS (
  SELECT subj AS e FROM t UNION SELECT obj FROM t
), bk AS (
  SELECT e, ('0x' || substr(md5(e), 1, 8))::BIGINT % 64 AS b FROM ents
), counts AS (
  SELECT b, count(*) AS c FROM bk GROUP BY b
), offs AS (
  SELECT b, coalesce(sum(c) OVER (ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM counts
), idx AS (
  SELECT bk.e,
         (o.off + row_number() OVER (PARTITION BY bk.b ORDER BY bk.e) - 1)
           AS idx
  FROM bk JOIN offs o USING (b)
), n AS (
  SELECT count(*)::BIGINT AS n FROM idx
), expanded AS (
  SELECT subj, pred, obj, j
  FROM t CROSS JOIN (SELECT unnest(generate_series(0, {NEG_SAMPLE_K - 1}))
                     AS j)
), cand AS (
  SELECT x.subj, x.pred, x.obj, x.j, i.e AS neg_obj
  FROM expanded x CROSS JOIN n
  JOIN idx i ON i.idx = ('0x' || substr(md5(
      x.subj || '|' || x.pred || '|' || x.obj || '|' || x.j::VARCHAR
      || '|' || '{NEG_SAMPLE_SEED}'), 1, 8))::BIGINT % n.n
  WHERE i.e != x.obj
)
SELECT c.subj, c.pred, c.obj, c.j::BIGINT AS j, c.neg_obj
FROM cand c
LEFT JOIN t tt
  ON tt.subj = c.subj AND tt.pred = c.pred AND tt.obj = c.neg_obj
WHERE tt.subj IS NULL
"""


def q_kg_cardinality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology constraint validation: per-subject distinct-object counts
    for the declared functional predicates, with violation flags — the QA
    report a KG build ships with its snapshot."""
    from .operators.kg_train import cardinality_check

    t = q_kg_triples(spark, sf_dir).select("subj", "pred", "obj")
    return cardinality_check(t, FUNCTIONAL_PREDS)


KG_CARDINALITY_ORACLE = f"""
WITH rels AS ({{rels}}),
t AS (
  SELECT DISTINCT head_surface AS subj, label AS pred, tail_surface AS obj
  FROM rels
)
SELECT subj, pred, count(DISTINCT obj)::BIGINT AS n_objects,
       count(DISTINCT obj) > 1 AS violates_functional
FROM t WHERE pred IN ({",".join(f"'{p}'" for p in FUNCTIONAL_PREDS)})
GROUP BY subj, pred
"""


def q_kg_entity_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast alias-dictionary linking; per-entity mention counts."""
    m = mentions_df(spark, sf_dir)
    aliases = spark.createDataFrame(
        pa.table({"alias": list(ALIAS_DICT), "entity_id": list(ALIAS_DICT.values())})
    )
    linked = m.join(
        F.broadcast(aliases), normalize_surface(F.col("surface")) == F.col("alias")
    )
    return linked.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


ENTITY_LINKING_ORACLE = f"""
WITH mentions AS (
  SELECT doc_id::BIGINT AS doc_id, unnest(string_split(text,' ')) AS surface
  FROM documents
), aliases(alias, entity_id) AS (
  VALUES {",".join(f"('{k}','{v}')" for k, v in ALIAS_DICT.items())}
)
SELECT entity_id, count(*)::BIGINT AS n_mentions,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM mentions JOIN aliases ON surface = alias
GROUP BY 1
"""


def q_kg_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC over the co-occurrence relation graph (iterative DataFrame joins;
    oracle is a recursive transitive-closure CTE)."""
    rels = _relations_df(spark, sf_dir, MAX_REL_DISTANCE)
    edges = rels.select(
        F.col("head_surface").alias("src"), F.col("tail_surface").alias("dst")
    ).dropDuplicates(["src", "dst"])
    return connected_components(edges)


CC_ORACLE = f"""
WITH RECURSIVE rels AS ({_relations_oracle(MAX_REL_DISTANCE)}),
edges AS (SELECT DISTINCT head_surface AS src, tail_surface AS dst FROM rels),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, und.dst FROM reach JOIN und ON reach.r = und.src
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


def q_kg_pr_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P/R/F1 machinery check: 'pred' = distance<=20 relations vs 'gold' =
    distance<=40 (perfect precision, partial recall by construction).
    Both sides derive from ONE distance-annotated pair table, checkpointed
    lazily — recomputing the mention chain per side doubled the bench cost,
    and an eager checkpoint pins blocks before they're needed."""
    base = _relations_with_distance_df(spark, sf_dir, 40).localCheckpoint(eager=False)
    gold = base.drop("distance")
    pred = base.where(F.col("distance") <= 20).drop("distance")
    key = ["doc_id", "head_start", "tail_start", "label"]
    out = pr_f1(gold, pred, key_cols=key, label_col="label")
    return out.select(
        "label",
        F.col("gold_count").cast("long").alias("gold_count"),
        F.col("pred_count").cast("long").alias("pred_count"),
        F.col("tp").cast("long").alias("tp"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


PR_METRICS_ORACLE = f"""
WITH gold AS (SELECT DISTINCT doc_id, head_start, tail_start, label
              FROM ({_relations_oracle(40)})),
pred AS (SELECT DISTINCT doc_id, head_start, tail_start, label
         FROM ({_relations_oracle(20)})),
tp AS (
  SELECT g.label, count(*)::BIGINT AS tp
  FROM gold g JOIN pred p USING (doc_id, head_start, tail_start, label)
  GROUP BY 1
),
gc AS (SELECT label, count(*)::BIGINT AS gold_count FROM gold GROUP BY 1),
pc AS (SELECT label, count(*)::BIGINT AS pred_count FROM pred GROUP BY 1),
per_label AS (
  SELECT coalesce(gc.label, pc.label, tp.label) AS label,
         coalesce(gold_count, 0)::BIGINT AS gold_count,
         coalesce(pred_count, 0)::BIGINT AS pred_count,
         coalesce(tp, 0)::BIGINT AS tp
  FROM gc FULL JOIN pc ON gc.label = pc.label
  FULL JOIN tp ON coalesce(gc.label, pc.label) = tp.label
),
with_micro AS (
  SELECT * FROM per_label
  UNION ALL
  SELECT 'MICRO', sum(gold_count)::BIGINT, sum(pred_count)::BIGINT,
         sum(tp)::BIGINT FROM per_label
),
scored AS (
  SELECT label, gold_count, pred_count, tp,
    CASE WHEN pred_count > 0 THEN tp / pred_count::DOUBLE ELSE 0.0 END AS precision,
    CASE WHEN gold_count > 0 THEN tp / gold_count::DOUBLE ELSE 0.0 END AS recall
  FROM with_micro
),
scored_f1 AS (
  SELECT *, CASE WHEN precision + recall > 0
                 THEN 2 * precision * recall / (precision + recall)
                 ELSE 0.0 END AS f1
  FROM scored
),
-- MACRO = unweighted mean of the UNROUNDED per-label scores, micro excluded;
-- count columns are null (the reference macro entry has only the 3 scores)
with_macro AS (
  SELECT label, gold_count, pred_count, tp, precision, recall, f1 FROM scored_f1
  UNION ALL
  SELECT 'MACRO', NULL::BIGINT, NULL::BIGINT, NULL::BIGINT,
         avg(precision), avg(recall), avg(f1)
  FROM scored_f1 WHERE label != 'MICRO'
)
SELECT label, gold_count, pred_count, tp,
  round(precision, 6) AS precision,
  round(recall, 6) AS recall,
  round(f1, 6) AS f1
FROM with_macro
"""


# ------------------------------------------------------------------ dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_duplicates(docs, "doc_id", "text")


DEDUP_EXACT_ORACLE = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_key,
       min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS dup_count
FROM documents GROUP BY 1
"""


def q_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.skew import ensure_parallelism

    docs = read_table(spark, sf_dir, "documents")
    base = (
        ensure_parallelism(docs)
        # drop docs shorter than the shingle width — keeps the Spark side in
        # lockstep with the oracle's WHERE length(normalized) >= 5 (the
        # operator's [text] fallback for sub-shingle docs has no SQL twin)
        .where(F.length(normalize_text(F.col("text"))) >= 5)
        # normalize into a plain column BEFORE shingling: inlined, the
        # regex would re-run per shingle element (see _minhash_band_stack)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            normalize_text(F.col("text")).alias("_norm"),
        )
        .select(
            "doc_id",
            char_shingles_col(F.col("_norm"), 5).alias("sh"),
        )
        # single-pass signature (aggregate fold + inline): no pin needed,
        # the md5 pass appears exactly once in the plan
    )
    return with_minhash_signature(base, "sh", 4).drop("sh")


# universal-hash family: mh_i = min over shingles of
# (a_i * int(md5(shingle)[:8],16) + b_i) mod P — one md5 per shingle total
def _mh_expr(i: int, hx: str = "hx") -> str:
    a, b = MINHASH_AB[i]
    return (
        f"list_aggregate(list_transform({hx}, "
        f"h -> (h * {a} + {b}) % {MINHASH_PRIME}), 'min')"
    )


MINHASH_SIG_ORACLE = f"""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, length(trim(regexp_replace(lower(text),'\\s+',' ','g'))) - 4),
             i -> substr(trim(regexp_replace(lower(text),'\\s+',' ','g')), i, 5))),
           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hx
  FROM documents
  WHERE length(trim(regexp_replace(lower(text),'\\s+',' ','g'))) >= 5
)
SELECT doc_id,
  {", ".join(f"{_mh_expr(i)} AS mh{i}" for i in range(4))}
FROM base
"""


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(
        # mirror the oracle's length(normalized) >= 5 guard (see signatures)
        F.length(normalize_text(F.col("text"))) >= 5
    )
    return minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_k=5, num_hashes=16, band_size=4,
        jaccard_threshold=0.5,
    )


# stack CTEs shared by the self-join pair queries AND the cross-corpus one
_MINHASH_STACK_CTES = f"""base AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_distinct(list_transform(
           generate_series(1, length(trim(regexp_replace(lower(text),'\\s+',' ','g'))) - 4),
           i -> substr(trim(regexp_replace(lower(text),'\\s+',' ','g')), i, 5))) AS sh
  FROM documents
  WHERE length(trim(regexp_replace(lower(text),'\\s+',' ','g'))) >= 5
), hashed AS (
  SELECT doc_id, sh,
         list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hx
  FROM base
), sig AS (
  -- universal-hash family: mh_i = min (a_i*h + b_i) mod P over base hashes
  SELECT doc_id, sh,
         [{", ".join(_mh_expr(i) for i in range(16))}] AS mhs
  FROM hashed
), stacked AS (
  SELECT doc_id, sh, mhs,
         unnest(list_transform(generate_series(0, 3), b ->
           CAST(b AS VARCHAR) || '|' || CAST(mhs[b*4+1] AS VARCHAR)
           || '|' || CAST(mhs[b*4+2] AS VARCHAR)
           || '|' || CAST(mhs[b*4+3] AS VARCHAR)
           || '|' || CAST(mhs[b*4+4] AS VARCHAR))) AS band_key
  FROM sig
)"""

# CTE list shared by the pair query and the cluster (CC) query
_MINHASH_PAIRS_CTES = f"""{_MINHASH_STACK_CTES}, pairs AS (
  SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id,
         a.mhs AS src_mhs, b.mhs AS dst_mhs,
         a.sh AS src_sh, b.sh AS dst_sh
  FROM stacked a JOIN stacked b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), pre AS (
  -- signature pre-filter mirroring minhash_lsh_pairs min_sig_matches=4
  SELECT * FROM pairs
  WHERE list_sum(list_transform(generate_series(1, 16),
        i -> CASE WHEN src_mhs[i] = dst_mhs[i] THEN 1 ELSE 0 END)) >= 4
), lsh_verified AS (
  SELECT src_id, dst_id,
    round(length(list_intersect(src_sh, dst_sh))::DOUBLE
          / (length(src_sh) + length(dst_sh) - length(list_intersect(src_sh, dst_sh))), 6) AS jaccard
  FROM pre
  WHERE length(list_intersect(src_sh, dst_sh))::DOUBLE
        / (length(src_sh) + length(dst_sh) - length(list_intersect(src_sh, dst_sh))) >= 0.5
)"""

MINHASH_PAIRS_ORACLE = f"""
WITH {_MINHASH_PAIRS_CTES}
SELECT src_id, dst_id, jaccard FROM lsh_verified
"""

CROSS_CORPUS_MOD = 3  # doc_id % 3 == 0 -> the "new crawl" side


def q_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-crawl incremental dedup: near-duplicates of the NEW third of the
    corpus (doc_id % 3 == 0) against the existing two-thirds INDEX —
    banded MinHash with a new×index bucket join only (never new×new or
    index×index); flags what an ingest would drop before training."""
    from .operators.dedup import cross_corpus_near_dups

    docs = read_table(spark, sf_dir, "documents").where(
        F.length(normalize_text(F.col("text"))) >= 5
    )
    return cross_corpus_near_dups(
        docs.where(F.col("doc_id") % CROSS_CORPUS_MOD == 0),
        docs.where(F.col("doc_id") % CROSS_CORPUS_MOD != 0),
        jaccard_threshold=0.5,
    )


CROSS_CORPUS_ORACLE = f"""
WITH {_MINHASH_STACK_CTES}, news AS (
  SELECT * FROM stacked WHERE doc_id % {CROSS_CORPUS_MOD} = 0
), idx AS (
  SELECT * FROM stacked WHERE doc_id % {CROSS_CORPUS_MOD} != 0
), cpairs AS (
  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id,
         n.sh AS nsh, i.sh AS ish
  FROM news n JOIN idx i ON n.band_key = i.band_key
)
SELECT new_id, index_id,
  round(length(list_intersect(nsh, ish))::DOUBLE
        / (length(nsh) + length(ish) - length(list_intersect(nsh, ish))),
        6) AS jaccard
FROM cpairs
WHERE length(list_intersect(nsh, ish))::DOUBLE
      / (length(nsh) + length(ish) - length(list_intersect(nsh, ish)))
      >= 0.5
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return simhash16(docs, "doc_id", "text").select(
        "doc_id", F.col("simhash").cast("long").alias("simhash")
    )


SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS tokens
  FROM documents
), hashed AS (
  SELECT doc_id,
    list_transform(tokens, t ->
      (strpos('0123456789abcdef', substr(md5(t),1,1))-1)*4096
    + (strpos('0123456789abcdef', substr(md5(t),2,1))-1)*256
    + (strpos('0123456789abcdef', substr(md5(t),3,1))-1)*16
    + (strpos('0123456789abcdef', substr(md5(t),4,1))-1)) AS hs
  FROM toks
)
SELECT doc_id, (
""" + " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {2**b} ELSE 0 END)"
    for b in range(16)
) + """
)::BIGINT AS simhash
FROM hashed
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs (Manku et al. WWW'07): hamming <= 1
    over the 16-bit signature via 2-band (8-bit) pigeonhole bucketing +
    exact popcount verify — never an all-pairs comparison. On the 16-bit
    portable signature, hamming <= 1 is the threshold that means
    'near-identical fingerprint'; a production 64-bit simhash would use
    wider bands and a larger budget."""
    from .operators.dedup import simhash_near_dup_pairs

    docs = read_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=1, n_bands=2
    )


SIMHASH_PAIRS_ORACLE = f"""
WITH sims AS ({SIMHASH_ORACLE}),
bands AS (
  SELECT doc_id, simhash, b AS band_idx,
         (simhash >> (b * 8)) & 255 AS band_val
  FROM sims, unnest(generate_series(0, 1)) AS t(b)
)
SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""


def q_dedup_simhash60_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width SimHash near-dups: 60-bit fingerprint, 4 bands of
    15 bits (32k bucket values per band — the corpus-scale regime where
    the 16-bit variant's 256-value buckets would go quadratic), hamming
    <= 3 with exact popcount verify."""
    from .operators.dedup import simhash_near_dup_pairs

    docs = read_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=3, n_bands=4, sig_bits=60
    )


SIMHASH60_PAIRS_ORACLE = """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ')
           AS tk
  FROM documents
), hashed AS (
  SELECT doc_id,
         list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)
           AS hs
  FROM toks
), sims AS (
  SELECT doc_id,
    list_sum(list_transform(generate_series(0, 59), b ->
      CASE WHEN list_sum(list_transform(hs, x ->
                  CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
  FROM hashed
), bands AS (
  SELECT doc_id, simhash, b AS band_idx,
         (simhash >> (b * 15)) & 32767 AS band_val
  FROM sims, unnest(generate_series(0, 3)) AS t(b)
)
SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, block_col="source", threshold=0.2
    )


NGRAM_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, source,
         string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(tk)-2, 1)),
           i -> tk[i] || ' ' || coalesce(tk[i+1],'') || ' ' || coalesce(tk[i+2],'')))) AS gram
  FROM toks
), fixed AS (
  SELECT doc_id, source, trim(gram) AS gram FROM grams
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams FROM fixed GROUP BY 1
), shared AS (
  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, count(*)::BIGINT AS shared
  FROM fixed a JOIN fixed b
    ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT src_id, dst_id, shared,
  round(shared::DOUBLE / (sa.n_grams + sb.n_grams - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = src_id
JOIN sizes sb ON sb.doc_id = dst_id
WHERE shared::DOUBLE / (sa.n_grams + sb.n_grams - shared) >= 0.2
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH pairs -> connected
    components -> one keep_id (min doc_id) per duplicate cluster with its
    size. The full dedup story a training-data pipeline runs: candidate
    edges, transitive closure, canonical representative."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.length(normalize_text(F.col("text"))) >= 5
    )
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_k=5, num_hashes=16, band_size=4,
        jaccard_threshold=0.5,
    )
    edges = pairs.select(
        F.col("src_id").cast("string").alias("src"),
        F.col("dst_id").cast("string").alias("dst"),
    )
    comps = connected_components(edges)
    return (
        comps.groupBy("component")
        .agg(
            F.min(F.col("node").cast("long")).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
        )
        .select("keep_id", "cluster_size")
    )


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
edges AS (
  SELECT CAST(src_id AS VARCHAR) AS src, CAST(dst_id AS VARCHAR) AS dst
  FROM lsh_verified
),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, und.dst FROM reach JOIN und ON reach.r = und.src
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT min(node::BIGINT)::BIGINT AS keep_id, count(*)::BIGINT AS cluster_size
FROM comp GROUP BY component
"""


def q_dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-based near-dup clustering: 60-bit banded pairs ->
    connected components -> one keep_id per cluster. Same composition as
    dedup_clusters but over the fingerprint family — the two dedup
    signals a pipeline typically runs side by side."""
    from .operators.dedup import simhash_near_dup_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=3, n_bands=4, sig_bits=60
    )
    edges = pairs.select(
        F.col("src_id").cast("string").alias("src"),
        F.col("dst_id").cast("string").alias("dst"),
    )
    comps = connected_components(edges)
    return (
        comps.groupBy("component")
        .agg(
            F.min(F.col("node").cast("long")).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
        )
        .select("keep_id", "cluster_size")
    )


def _simhash_clusters_oracle() -> str:
    # reuse the 60-bit pair CTEs verbatim, then the same recursive CC
    body = SIMHASH60_PAIRS_ORACLE.strip()
    assert body.startswith("WITH ")
    ctes = body[len("WITH "):body.index(")\nSELECT DISTINCT")] + ")"
    return f"""
WITH RECURSIVE {ctes},
sh_pairs AS (
  SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
edges AS (
  SELECT CAST(src_id AS VARCHAR) AS src, CAST(dst_id AS VARCHAR) AS dst
  FROM sh_pairs
),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, und.dst FROM reach JOIN und ON reach.r = und.src
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT min(node::BIGINT)::BIGINT AS keep_id, count(*)::BIGINT AS cluster_size
FROM comp GROUP BY component
"""


# -------------------------------------------------------------- similarity

ANN_QUERY_IDS = list(range(10))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, ANN_QUERY_IDS, k=5)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("rank").cast("long"),
        F.col("neighbor_id").cast("long"),
    )


ANN_TOPK_ORACLE = f"""
WITH base AS (
  SELECT vec_id::BIGINT AS nid, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT nid AS query_id, v AS qv FROM base
  WHERE nid IN ({",".join(str(i) for i in ANN_QUERY_IDS)})
), scored AS (
  SELECT query_id, b.nid AS neighbor_id,
         list_dot_product(qv, b.v)
         / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM q, base b WHERE b.nid != query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, rnk::BIGINT AS rank, neighbor_id FROM ranked WHERE rnk <= 5
"""


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.skew import ensure_parallelism

    # fan the scan out: 8 hyperplane folds per row ride the scan stage
    emb = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    base = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    # dim=64 (the embeddings table's fixed dimension): the ±1 weights are
    # plan literals, not 512 md5 calls per row
    bits = hyperplane_signature_cols("vec", 8, dim=64)
    sig = base.select("nid", F.concat_ws("", *bits).alias("bucket"))
    return sig.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))


_proj_sql = " || ".join(
    f"""(CASE WHEN list_sum(list_transform(generate_series(0, 63),
      i -> round(v[i+1] * (CASE WHEN substr(md5('{p}|' || CAST(i AS VARCHAR)), 1, 1) >= '8'
                     THEN 1.0 ELSE -1.0 END) * 1000000.0)::BIGINT)) > 0
      THEN '1' ELSE '0' END)"""
    for p in range(8)
)

ANN_LSH_ORACLE = f"""
WITH base AS (
  SELECT vec_id::BIGINT AS nid, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT ({_proj_sql}) AS bucket, count(*)::BIGINT AS n_vectors
FROM base GROUP BY 1
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic centroids, argmax-cosine inverted lists,
    nprobe-bucket search (operators/similarity.py ivf_topk)."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, ANN_QUERY_IDS, num_centroids=8, nprobe=2, k=5)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("rank").cast("long"),
        F.col("neighbor_id").cast("long"),
        F.col("centroid_id").cast("long"),
    )


ANN_IVF_ORACLE = f"""
WITH base AS (
  SELECT vec_id::BIGINT AS nid, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT nid AS cid, v AS cv FROM base WHERE nid < 8
), assign_scored AS (
  SELECT b.nid, b.v, c.cid,
         list_dot_product(b.v, c.cv)
         / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos,
         row_number() OVER (PARTITION BY b.nid ORDER BY
           list_dot_product(b.v, c.cv)
           / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
           c.cid) AS rn
  FROM base b CROSS JOIN cents c
), assigned AS (
  SELECT nid, v, cid AS centroid_id FROM assign_scored WHERE rn = 1
), probes AS (
  SELECT nid AS query_id, v AS qv, cid AS probe_cid
  FROM assign_scored
  WHERE rn <= 2 AND nid IN ({",".join(str(i) for i in ANN_QUERY_IDS)})
), scored AS (
  SELECT p.query_id, a.nid AS neighbor_id, a.centroid_id,
         list_dot_product(p.qv, a.v)
         / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM probes p JOIN assigned a
    ON a.centroid_id = p.probe_cid AND a.nid != p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, centroid_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, rnk::BIGINT AS rank, neighbor_id, centroid_id
FROM ranked WHERE rnk <= 5
"""


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the IVF scale path against the
    brute-force ground truth, per query — the measurement that justifies
    an approximate index before it replaces the exact scan at corpus
    scale (nprobe tuning reads exactly this table)."""
    bf = q_ann_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    ivf = q_ann_ivf(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    j = bf.join(
        ivf,
        (bf.query_id == ivf.query_id)
        & (F.col("true_neighbor") == F.col("ivf_neighbor")),
        "left",
    ).select(bf.query_id, "true_neighbor", "ivf_neighbor")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.count("ivf_neighbor").cast("long").alias("n_found"),
        F.round(F.count("ivf_neighbor") / F.count(F.lit(1)), 6).alias(
            "recall"
        ),
    )


ANN_IVF_RECALL_ORACLE = f"""
WITH bf AS ({ANN_TOPK_ORACLE}), ivf AS ({ANN_IVF_ORACLE})
SELECT b.query_id, count(*)::BIGINT AS k,
  count(i.neighbor_id)::BIGINT AS n_found,
  round(count(i.neighbor_id) / count(*)::DOUBLE, 6) AS recall
FROM bf b LEFT JOIN ivf i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""



def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dups blocked by the 8-plane LSH bucket — all-pairs only
    WITHIN a signature bucket. Blocking on a low-cardinality column (label)
    is O(B^2) per block at corpus scale; the LSH bucket keeps blocks small
    and similarity-homogeneous, which is the 100 TB shape."""
    from .plans.skew import ensure_parallelism

    # fan the scan out: the 8-plane signature folds ride the scan stage
    emb = ensure_parallelism(read_table(spark, sf_dir, "embeddings"))
    base = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    bits = hyperplane_signature_cols("vec", 8, dim=64)
    sig = base.select("nid", "vec", F.concat_ws("", *bits).alias("bucket"))
    return embedding_near_duplicates(
        sig, threshold=0.30, block_col="bucket", id_col="nid", vec_col="vec"
    ).select(
        "block",
        F.col("src_id").cast("long"),
        F.col("dst_id").cast("long"),
        "cos",
    )


EMB_NEAR_DUP_ORACLE = f"""
WITH base AS (
  SELECT vec_id::BIGINT AS nid, embedding::DOUBLE[] AS v FROM embeddings
), sig AS (
  SELECT ({_proj_sql}) AS block, nid, v FROM base
)
SELECT a.block, a.nid AS src_id, b.nid AS dst_id,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM sig a JOIN sig b ON a.block = b.block AND a.nid < b.nid
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.30
"""


# ----------------------------------------------------------- text analysis

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(
                F.sum(F.size(F.split("text", " "))) / F.count(F.lit(1)), 4
            ).alias("avg_tokens"),
        )
    )


TEXT_STATS_ORACLE = """
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(len(string_split(text,' ')))::BIGINT AS total_tokens,
       sum(n_chars)::BIGINT AS total_chars,
       round(sum(len(string_split(text,' ')))::DOUBLE / count(*), 4) AS avg_tokens
FROM documents GROUP BY 1
"""

_STOP_LIST = ",".join(f"'{s}'" for s in STOPWORDS)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(list(STOPWORDS))))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        n_stop.cast("long").alias("n_stopwords"),
        F.round(n_distinct / n_tokens, 6).alias("distinct_ratio"),
    )


TEXT_QUALITY_ORACLE = f"""
WITH toks AS (SELECT doc_id::BIGINT AS doc_id, string_split(text,' ') AS tk FROM documents)
SELECT doc_id, len(tk)::BIGINT AS n_tokens,
       len(list_distinct(tk))::BIGINT AS n_distinct,
       len(list_filter(tk, t -> t IN ({_STOP_LIST})))::BIGINT AS n_stopwords,
       round(len(list_distinct(tk))::DOUBLE / len(tk), 6) AS distinct_ratio
FROM toks
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics per document (Rae et al.
    2021 §A1.1: documents dominated by repeated n-grams are low-quality
    training data): the most frequent token bigram, its share of all
    bigrams, and the fraction of bigram occurrences belonging to any
    repeated bigram. One explode + two keyed aggregations — map-side
    combinable, no all-pairs anything."""
    from .plans.skew import ensure_parallelism

    # fan the scan out (bigram explode + partial agg ride the scan stage)
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split("text", " ").alias("toks"),
    ).where(F.size("toks") >= 2)
    n = F.size("toks")
    bigrams = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    cnt = bigrams.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = cnt.groupBy("doc_id").agg(
        # min of (-count, bigram) = highest count, lexicographically
        # smallest bigram on ties — matches the oracle's row_number order
        F.min(F.struct((-F.col("c")).alias("neg"), F.col("bigram"))).alias(
            "top"
        ),
        F.sum("c").alias("total"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("rep"),
    )
    return agg.select(
        "doc_id",
        F.col("top.bigram").alias("top_bigram"),
        (-F.col("top.neg")).cast("long").alias("top_count"),
        F.round(-F.col("top.neg") / F.col("total"), 6).alias(
            "top_bigram_share"
        ),
        F.round(F.col("rep") / F.col("total"), 6).alias("dup_bigram_frac"),
    )


TEXT_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(text, ' ') AS tk
  FROM documents
), big AS (
  SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bigram
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(i)
  WHERE len(tk) >= 2
), cnt AS (
  SELECT doc_id, bigram, count(*) AS c FROM big GROUP BY 1, 2
), top AS (
  SELECT doc_id, bigram AS top_bigram, c AS top_count
  FROM cnt
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram) = 1
), sums AS (
  SELECT doc_id, sum(c)::BIGINT AS total,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS rep
  FROM cnt GROUP BY doc_id
)
SELECT t.doc_id, t.top_bigram, t.top_count::BIGINT AS top_count,
       round(t.top_count::DOUBLE / s.total, 6) AS top_bigram_share,
       round(s.rep::DOUBLE / s.total, 6) AS dup_bigram_frac
FROM top t JOIN sums s USING (doc_id)
"""


# ------------------------- corpus preparation: decontamination / tf-idf /
# ------------------------- stratified sampling / sequence packing

CONTAM_BENCH_MOD = 97  # doc_id % 97 == 0 -> the held-out "benchmark" set
CONTAM_N = 4

SAMPLE_RATES = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.25, "zh": 0.1}
SAMPLE_SALT = "sample-v1"

PACK_BUDGET = 128
PACK_GROUP_WIDTH = 100


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 app. C): per corpus
    document, distinct token 4-gram overlap with a held-out benchmark set
    (docs with doc_id % 97 == 0). Benchmark gram index deduplicated and
    broadcast — the corpus side never shuffles on gram."""
    from .operators.corpus_ops import ngram_contamination

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    bench = docs.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    return ngram_contamination(corpus, bench, n=CONTAM_N)


TEXT_CONTAMINATION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ')
           AS tk
  FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(tk) - {CONTAM_N - 1}, 1)),
      i -> array_to_string(tk[i:i+{CONTAM_N - 1}], ' ')))) AS gram
  FROM toks
), corpus AS (
  SELECT * FROM grams WHERE doc_id % {CONTAM_BENCH_MOD} != 0
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {CONTAM_BENCH_MOD} = 0
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams FROM corpus GROUP BY doc_id
), hits AS (
  SELECT c.doc_id, count(*)::BIGINT AS n_hits
  FROM corpus c JOIN bench b USING (gram) GROUP BY c.doc_id
)
SELECT s.doc_id, s.n_grams,
  coalesce(h.n_hits, 0)::BIGINT AS n_hits,
  round(coalesce(h.n_hits, 0) / s.n_grams::DOUBLE, 6)
    AS contamination_frac,
  coalesce(h.n_hits, 0) >= 1 AS contaminated
FROM sizes s LEFT JOIN hits h USING (doc_id)
"""


BOILER_MIN_DOCS = 5


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction: share of distinct 4-grams that
    appear in >= 5 documents — the template/license-header cleaning signal;
    frequent-gram set broadcasts back into the gram stream."""
    from .operators.corpus_ops import boilerplate_fraction

    docs = read_table(spark, sf_dir, "documents")
    return boilerplate_fraction(
        docs, n=CONTAM_N, min_docs=BOILER_MIN_DOCS
    )


TEXT_BOILERPLATE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ')
           AS tk
  FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(tk) - {CONTAM_N - 1}, 1)),
      i -> array_to_string(tk[i:i+{CONTAM_N - 1}], ' ')))) AS gram
  FROM toks
), frequent AS (
  SELECT gram FROM grams
  GROUP BY gram HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams FROM grams GROUP BY doc_id
), hits AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_boiler
  FROM grams g JOIN frequent f USING (gram) GROUP BY g.doc_id
)
SELECT s.doc_id, s.n_grams,
  coalesce(h.n_boiler, 0)::BIGINT AS n_boiler_grams,
  round(coalesce(h.n_boiler, 0) / s.n_grams::DOUBLE, 6) AS boiler_frac
FROM sizes s LEFT JOIN hits h USING (doc_id)
"""


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF (sklearn smooth_idf:
    ln((N+1)/(df+1)) + 1), ties broken by term — two keyed aggregations,
    a broadcast df join, one per-doc top-k window."""
    from .operators.corpus_ops import tfidf_top_terms

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


TEXT_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')),
                ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM toks WHERE length(term) > 0 GROUP BY doc_id, term
), dfq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY term
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf,
    round(t.tf * (ln((n.n_docs + 1)::DOUBLE / (d.df + 1)) + 1), 6) AS score
  FROM tf t JOIN dfq d USING (term), n
)
SELECT doc_id,
  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)::BIGINT
    AS rank,
  term, tf, score
FROM scored
QUALIFY rank <= 3
"""


def q_text_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified Bernoulli sample by language: keep iff
    md5(doc_id|salt)'s first 8 hex digits / 2^32 fall under the stratum
    rate — a pure function of (id, salt), independent of partitioning and
    cluster size, so the 100 TB sample is reproducible and nested."""
    from .operators.corpus_ops import stratified_sample

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )
    return stratified_sample(
        docs, rates=SAMPLE_RATES, salt=SAMPLE_SALT
    ).select("doc_id", "lang", "sample_u", "keep")


_SAMPLE_RATE_CASE = " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(SAMPLE_RATES.items())
)

TEXT_SAMPLED_ORACLE = f"""
SELECT doc_id::BIGINT AS doc_id, lang,
  round(('0x' || substr(md5(doc_id::VARCHAR || '|' || '{SAMPLE_SALT}'),
         1, 8))::BIGINT / 4294967296.0, 9) AS sample_u,
  round(('0x' || substr(md5(doc_id::VARCHAR || '|' || '{SAMPLE_SALT}'),
         1, 8))::BIGINT / 4294967296.0, 9)
    < (CASE lang {_SAMPLE_RATE_CASE} ELSE 0.0 END) AS keep
FROM documents
"""


def q_text_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit-in-order sequence packing into 128-token bins
    (the training-loader example-packing step): sequential within each
    id-range shard by definition (running fill depends on every earlier
    doc), parallel across shards via applyInPandas; the oracle replays
    the same fold as a recursive CTE."""
    from .operators.corpus_ops import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, budget_tokens=PACK_BUDGET, group_width=PACK_GROUP_WIDTH
    )


TEXT_PACKED_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT (doc_id // {PACK_GROUP_WIDTH})::BIGINT AS group_id,
         doc_id::BIGINT AS doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
), seq AS (
  SELECT *, row_number() OVER (PARTITION BY group_id ORDER BY doc_id) AS rn
  FROM base
), pack AS (
  SELECT group_id, doc_id, n_tokens, rn,
         1::BIGINT AS bin_idx, n_tokens AS bin_fill
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.group_id, s.doc_id, s.n_tokens, s.rn,
    CASE WHEN p.bin_fill + s.n_tokens > {PACK_BUDGET}
         THEN p.bin_idx + 1 ELSE p.bin_idx END,
    CASE WHEN p.bin_fill + s.n_tokens > {PACK_BUDGET}
         THEN s.n_tokens ELSE p.bin_fill + s.n_tokens END
  FROM pack p JOIN seq s ON s.group_id = p.group_id AND s.rn = p.rn + 1
)
SELECT group_id, doc_id, n_tokens, bin_idx, bin_fill FROM pack
"""


PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3


def _doc_chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed doc-link graph: for each gazetteer surface, chain the docs
    containing it in doc_id order (doc_i -> doc_{i+1}) — bounded edges
    (one per doc per surface), never the per-surface clique."""
    from .operators.re_encoding import token_mentions

    docs = read_table(spark, sf_dir, "documents")
    ds = (
        token_mentions(docs, list(GAZETTEER))
        .select("doc_id", "surface")
        .dropDuplicates(["doc_id", "surface"])
    )
    w = W.partitionBy("surface").orderBy("doc_id")
    return (
        ds.select(
            F.col("doc_id").alias("src"),
            F.lead("doc_id").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the doc-link graph (iterative
    DataFrame joins — the same sweep shape as the large-star/small-star CC
    rounds; GraphFrames-style analytics over the materialized KG).
    Contributions quantize to DECIMAL(30,12) pre-sum so the in-neighbor
    aggregation is exact and order-independent; the oracle unrolls the
    three sweeps as chained CTEs."""
    from .operators.graph import pagerank

    return pagerank(
        _doc_chain_edges(spark, sf_dir),
        damping=PAGERANK_DAMPING,
        iterations=PAGERANK_ITERS,
    )


def _pagerank_iteration_sql(prev: str, this: str) -> str:
    return f"""{this} AS (
  SELECT nd.node,
    (1 - {PAGERANK_DAMPING}::DOUBLE) / n.n
      + {PAGERANK_DAMPING}::DOUBLE * coalesce(CAST(s.s AS DOUBLE), 0.0)
      AS pr
  FROM nodes nd CROSS JOIN n LEFT JOIN (
    SELECT e.dst AS node,
           sum(CAST(round(p.pr / d.out_deg, 12) AS DECIMAL(30,12))) AS s
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.node = nd.node
)"""


KG_PAGERANK_ORACLE = f"""
WITH ds AS (
  SELECT DISTINCT doc_id::BIGINT AS doc_id, surface FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS surface
    FROM documents
  ) WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), chained AS (
  SELECT doc_id AS src,
         lead(doc_id) OVER (PARTITION BY surface ORDER BY doc_id) AS dst
  FROM ds
), edges AS (
  SELECT DISTINCT src, dst FROM chained WHERE dst IS NOT NULL
), deg AS (
  SELECT src, count(*)::BIGINT AS out_deg FROM edges GROUP BY src
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), n AS (
  SELECT count(*)::BIGINT AS n FROM nodes
), pr0 AS (
  SELECT node, 1.0::DOUBLE / n.n AS pr FROM nodes CROSS JOIN n
), {_pagerank_iteration_sql("pr0", "it1")},
{_pagerank_iteration_sql("it1", "it2")},
{_pagerank_iteration_sql("it2", "it3")}
SELECT node, round(pr, 6) AS pagerank FROM it3
"""


def q_kg_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out degree over the doc-link graph — the degree-profile
    companion to kg_pagerank (full outer join of the two keyed counts)."""
    from .operators.graph import graph_degree_stats

    return graph_degree_stats(_doc_chain_edges(spark, sf_dir))


KG_GRAPH_DEGREES_ORACLE = f"""
WITH ds AS (
  SELECT DISTINCT doc_id::BIGINT AS doc_id, surface FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS surface
    FROM documents
  ) WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), chained AS (
  SELECT doc_id AS src,
         lead(doc_id) OVER (PARTITION BY surface ORDER BY doc_id) AS dst
  FROM ds
), edges AS (
  SELECT DISTINCT src, dst FROM chained WHERE dst IS NOT NULL
), outd AS (
  SELECT src AS node, count(*)::BIGINT AS out_degree FROM edges GROUP BY src
), ind AS (
  SELECT dst AS node, count(*)::BIGINT AS in_degree FROM edges GROUP BY dst
)
SELECT coalesce(o.node, i.node) AS node,
       coalesce(o.out_degree, 0)::BIGINT AS out_degree,
       coalesce(i.in_degree, 0)::BIGINT AS in_degree
FROM outd o FULL OUTER JOIN ind i ON o.node = i.node
"""


MIXTURE_TARGETS = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "zh": 0.1}


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static data-mixture rebalancing: per-language sampling rates that
    make post-sample token counts proportional to the target shares while
    maximizing retained tokens (the scarcest-relative-to-target language
    keeps rate 1.0)."""
    from .operators.corpus_ops import mixture_rates

    docs = read_table(spark, sf_dir, "documents")
    return mixture_rates(docs, targets=MIXTURE_TARGETS)


_MIXTURE_TARGET_CASE = " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(MIXTURE_TARGETS.items())
)

CORPUS_MIXTURE_ORACLE = f"""
WITH tok AS (
  SELECT lang AS stratum,
         sum(len(string_split(text, ' ')))::BIGINT AS current_tokens
  FROM documents
  WHERE lang IN ({",".join(f"'{s}'" for s in sorted(MIXTURE_TARGETS))})
  GROUP BY lang
), scaled AS (
  SELECT stratum, current_tokens,
    (CASE stratum {_MIXTURE_TARGET_CASE} END)::DOUBLE AS target_share,
    min(current_tokens
        / (CASE stratum {_MIXTURE_TARGET_CASE} END)::DOUBLE) OVER ()
      AS k,
    sum(current_tokens) OVER () AS total
  FROM tok
)
SELECT stratum, current_tokens,
  round(current_tokens / total::DOUBLE, 6) AS current_share,
  target_share,
  round(k * target_share / current_tokens, 9) AS rate,
  round(round(k * target_share / current_tokens, 9) * current_tokens, 3)
    AS expected_tokens
FROM scaled
"""


def q_embedding_class_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (nearest-class-mean prototypes / the
    k-means update step IVF training runs): elementwise mean per label in
    long form (label, dim, n, centroid). Per-element values quantize to
    DECIMAL(18,6) BEFORE the sum — exact, order-independent aggregation
    (the pagerank/money-sum pattern); explode + keyed partial aggregation
    is map-side combinable, shuffling only label x dim keys."""
    emb = read_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    agg = ex.groupBy("label", "dim").agg(
        F.sum(
            F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias(
            "centroid"
        ),
    )


EMBEDDING_CENTROIDS_ORACLE = """
WITH ex AS (
  SELECT label::BIGINT AS label,
         (generate_subscripts(embedding, 1) - 1)::BIGINT AS dim,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label, dim, count(*)::BIGINT AS n,
  round(CAST(sum(CAST(round(v::DOUBLE, 6) AS DECIMAL(18,6))) AS DOUBLE)
        / count(*), 6) AS centroid
FROM ex GROUP BY label, dim
"""


def q_kg_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reachability over the doc-link graph: (a, c) pairs reachable
    via some b but NOT directly linked and not reflexive — the
    link-recommendation / path-feature join (one self-join + one
    anti-join, both keyed)."""
    e = _doc_chain_edges(spark, sf_dir).dropDuplicates(["src", "dst"])
    e2 = e.select(
        F.col("src").alias("mid"), F.col("dst").alias("two_hop")
    )
    hops = (
        e.join(e2, e.dst == e2.mid)
        .select(F.col("src").alias("a"), F.col("two_hop").alias("c"))
        .where(F.col("a") != F.col("c"))
        .dropDuplicates(["a", "c"])
    )
    direct = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return hops.join(direct, ["a", "c"], "left_anti")


KG_TWO_HOP_ORACLE = f"""
WITH ds AS (
  SELECT DISTINCT doc_id::BIGINT AS doc_id, surface FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS surface
    FROM documents
  ) WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), chained AS (
  SELECT doc_id AS src,
         lead(doc_id) OVER (PARTITION BY surface ORDER BY doc_id) AS dst
  FROM ds
), edges AS (
  SELECT DISTINCT src, dst FROM chained WHERE dst IS NOT NULL
), hops AS (
  SELECT DISTINCT e1.src AS a, e2.dst AS c
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
  WHERE e1.src != e2.dst
)
SELECT h.a, h.c FROM hops h
LEFT JOIN edges d ON d.src = h.a AND d.dst = h.c
WHERE d.src IS NULL
"""


def q_corpus_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus length statistics: doc count, token total, mean
    and exact p25/p50/p75 token-count percentiles (Spark `percentile` and
    DuckDB `quantile_cont` share linear interpolation, verified
    bit-identical). Exact percentiles gather per-group values — the right
    gate for correctness; the 100 TB path swaps in `percentile_approx`
    (t-digest, map-side combinable) with everything else unchanged."""
    docs = read_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    pct = F.expr(
        "percentile(size(split(text, ' ')), array(0.25, 0.5, 0.75))"
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_toks).cast("long").alias("total_tokens"),
        F.round(F.sum(n_toks) / F.count(F.lit(1)), 6).alias("mean_tokens"),
        F.round(pct[0], 6).alias("p25"),
        F.round(pct[1], 6).alias("p50"),
        F.round(pct[2], 6).alias("p75"),
    )


CORPUS_LENGTH_STATS_ORACLE = """
WITH toks AS (
  SELECT lang, len(string_split(text, ' '))::BIGINT AS n FROM documents
)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens,
  round(sum(n) / count(*)::DOUBLE, 6) AS mean_tokens,
  round(quantile_cont(n, 0.25), 6) AS p25,
  round(quantile_cont(n, 0.5), 6) AS p50,
  round(quantile_cont(n, 0.75), 6) AS p75
FROM toks GROUP BY lang
"""


def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality filter (junk detector: base64 blobs,
    minified code, and key-mashing score far from natural-language
    entropy): per document, H = -Σ p_c·ln p_c over its character
    distribution, DECIMAL-quantized terms so the sum is exact. One
    explode + two keyed aggregations, map-side combinable."""
    from .plans.skew import ensure_parallelism

    # fan the scan out: the per-char explode + partial aggregation runs in
    # the scan stage, and a 1-2 split parquet would bound it to 2 cores
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    chars = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(normalize_text(F.col("text")), "")).alias("c"),
    ).where(F.length("c") > 0)
    counts = chars.groupBy("doc_id", "c").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total")
    term = F.round(-p * F.log(p), 9).cast("decimal(20,9)")
    return (
        counts.join(totals, "doc_id")
        .select("doc_id", F.col("total").cast("long").alias("n_chars"), term.alias("t"))
        .groupBy("doc_id", "n_chars")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("char_entropy"))
    )


TEXT_CHAR_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(
           trim(regexp_replace(lower(text),'\\s+',' ','g')), '')) AS c
  FROM documents
), ch AS (
  SELECT * FROM chars WHERE length(c) > 0
), counts AS (
  SELECT doc_id, c, count(*)::BIGINT AS n FROM ch GROUP BY doc_id, c
), totals AS (
  SELECT doc_id, sum(n)::BIGINT AS total FROM counts GROUP BY doc_id
)
SELECT counts.doc_id, totals.total AS n_chars,
  round(CAST(sum(CAST(round(-(n / total::DOUBLE)
        * ln(n / total::DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE), 6)
    AS char_entropy
FROM counts JOIN totals USING (doc_id)
GROUP BY counts.doc_id, totals.total
"""


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy (the CCNet-style perplexity filter, with
    the corpus itself as the LM): per document, the mean negative log
    probability of its tokens under corpus unigram frequencies — high
    values flag out-of-distribution/noisy documents. One frequency
    aggregate (vocabulary-sized, broadcast back) + one per-doc mean with
    DECIMAL-quantized terms so the float sum is order-independent."""
    from .plans.skew import ensure_parallelism

    # fan the scan out and pin the token stream: the frequency aggregate,
    # the total count, and the scored join all read it (3 explode passes
    # over a 2-split scan otherwise)
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias(
            "term"
        ),
    ).where(F.length("term") > 0).localCheckpoint(eager=False)
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = toks.count()  # one scalar
    nll = F.round(
        -F.log(F.col("tf") / F.lit(float(total))), 9
    ).cast("decimal(20,9)")
    scored = toks.join(F.broadcast(freqs), "term").select(
        "doc_id", nll.alias("nll")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(
            F.sum("nll").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_nll"),
    )


TEXT_UNIGRAM_LOGPROB_ORACLE = """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')),
                ' ')) AS term
  FROM documents
), tk AS (
  SELECT * FROM toks WHERE length(term) > 0
), freqs AS (
  SELECT term, count(*)::BIGINT AS tf FROM tk GROUP BY term
), total AS (
  SELECT count(*)::BIGINT AS n FROM tk
), scored AS (
  SELECT t.doc_id,
    CAST(round(-ln(f.tf / total.n::DOUBLE), 9) AS DECIMAL(20,9)) AS nll
  FROM tk t JOIN freqs f USING (term) CROSS JOIN total
)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
  round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS mean_nll
FROM scored GROUP BY doc_id
"""


WINNOW_K = 5  # char k-gram width
WINNOW_W = 4  # winnowing window (hashes per window)


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. SIGMOD'03, the
    MOSS scheme): hash every K-char gram, slide a W-hash window, keep each
    window's minimum — guarantees any shared substring of length
    K + W - 1 produces a shared fingerprint, at ~2/(W+1) density. Emitted
    as the (doc_id, fingerprint) inverted-index rows a plagiarism /
    near-dup lookup joins on. Pure JVM array expressions; value-set
    semantics make the rightmost-tie rule immaterial."""
    from .plans.skew import ensure_parallelism

    # the per-char md5 pass is compute-heavy and the single-row-group scan
    # plans as ONE task — fan out before the pinned stages materialize
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    # STAGED with materialization barriers: CollapseProject would otherwise
    # inline the hash-array expression into every window element (and the
    # normalize regex into every hash element) — O(n²) recompute per doc,
    # the round-3 expression-tree-blowup trap. Each pin makes the previous
    # stage a plain in-memory column.
    normed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        normalize_text(F.col("text")).alias("s"),
    ).localCheckpoint(eager=False)
    s = F.col("s")
    hashed = normed.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.length(s) - (WINNOW_K - 1), F.lit(1)),
            ),
            lambda i: F.conv(
                F.substring(
                    F.md5(s.substr(i, F.lit(WINNOW_K))), 1, 8
                ), 16, 10
            ).cast("long"),
        ).alias("hs"),
    ).localCheckpoint(eager=False)
    fps = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.size(F.col("hs")) - (WINNOW_W - 1), F.lit(1)
                ),
            ),
            lambda j: F.array_min(F.slice(F.col("hs"), j, WINNOW_W)),
        )
    )
    return hashed.select(
        "doc_id",
        F.explode(fps).alias("fingerprint"),
    )


TEXT_WINNOWING_ORACLE = f"""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id,
         trim(regexp_replace(lower(text),'\\s+',' ','g')) AS s
  FROM documents
), h AS (
  SELECT doc_id,
    list_transform(
      generate_series(1, greatest(length(s) - {WINNOW_K - 1}, 1)),
      i -> ('0x' || substr(md5(substr(s, i::BIGINT, {WINNOW_K})), 1, 8))
           ::BIGINT) AS hs
  FROM base
), w AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 1)),
      j -> list_aggregate(hs[j::BIGINT : (j + {WINNOW_W - 1})::BIGINT],
                          'min'))) AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fingerprint FROM w
"""


WINNOW_JACCARD = 0.4  # fingerprint-set resemblance threshold
WINNOW_MAX_POSTING = 100  # posting-list cap: on this tiny-vocab corpus
#   (and on real corpora, via boilerplate) hot fingerprints make the exact
#   self-join pair-quadratic; the cap is DETERMINISTIC and mirrored in the
#   oracle, and — like ngram_jaccard's max_gram_freq — per-doc index sizes
#   stay uncapped, so the Jaccard denominator is exact and the score a
#   lower bound. Genuinely similar docs share RARE fingerprints, which
#   always survive the cap.


def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs from the winnowing index: inverted-index
    self-join on fingerprints (never all-pairs), posting lists over
    WINNOW_MAX_POSTING dropped before the join (see constant note), then
    fingerprint-SET Jaccard per candidate pair against the UNCAPPED
    per-doc index sizes — length-normalized, unlike a raw shared count.
    The winnowed index is ~2/(W+1) the density of the full gram index —
    the standard scale trade of fingerprint-based dedup."""
    fps = q_text_winnowing(spark, sf_dir).localCheckpoint(eager=False)
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    freq = fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("_pf")
    )
    kept = fps.join(
        freq.where(F.col("_pf") <= WINNOW_MAX_POSTING), "fingerprint"
    ).drop("_pf")
    # spread the probe side of the posting-list self-join: it fans out
    # quadratically per fingerprint out of a tiny input, so AQE would
    # coalesce the pair stage to a few tasks (user repartition N is never
    # coalesced; the join and shared-count agg inherit it)
    n_out = spark.sparkContext.defaultParallelism * 4
    a = kept.select("fingerprint", F.col("doc_id").alias("src_id")).repartition(
        n_out, "fingerprint"
    )
    b = kept.select("fingerprint", F.col("doc_id").alias("dst_id"))
    shared = (
        a.join(b, "fingerprint")
        .where(F.col("src_id") < F.col("dst_id"))
        .groupBy("src_id", "dst_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("src_id"), F.col("n_fp").alias("src_n"))
    sb = sizes.select(F.col("doc_id").alias("dst_id"), F.col("n_fp").alias("dst_n"))
    jac = F.round(
        F.col("shared")
        / (F.col("src_n") + F.col("dst_n") - F.col("shared")),
        6,
    )
    return (
        shared.join(sa, "src_id")
        .join(sb, "dst_id")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= WINNOW_JACCARD)
        .select(
            "src_id", "dst_id",
            F.col("shared").cast("long").alias("shared_fps"), "jaccard",
        )
    )


DEDUP_WINNOW_PAIRS_ORACLE = f"""
WITH fps AS ({TEXT_WINNOWING_ORACLE}), sz AS (
  SELECT doc_id, count(*)::BIGINT AS n_fp FROM fps GROUP BY doc_id
), freq AS (
  SELECT fingerprint, count(*)::BIGINT AS pf FROM fps GROUP BY fingerprint
), kept AS (
  SELECT fps.doc_id, fps.fingerprint
  FROM fps JOIN freq USING (fingerprint)
  WHERE freq.pf <= {WINNOW_MAX_POSTING}
), shared AS (
  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, count(*)::BIGINT AS shared
  FROM kept a JOIN kept b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.src_id, s.dst_id, s.shared AS shared_fps,
       round(s.shared / (sa.n_fp + sb.n_fp - s.shared)::DOUBLE, 6)
         AS jaccard
FROM shared s
JOIN sz sa ON sa.doc_id = s.src_id
JOIN sz sb ON sb.doc_id = s.dst_id
WHERE round(s.shared / (sa.n_fp + sb.n_fp - s.shared)::DOUBLE, 6)
      >= {WINNOW_JACCARD}
"""


def q_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram diversity (distinct-n, the standard text-
    diversity measure): for n in 1..3, distinct grams / total gram
    occurrences over the whole corpus — one explode per n, two
    map-side-combinable aggregates each, unioned into a 3-row report."""
    from .plans.skew import ensure_parallelism

    # fan the scan out and pin the tokenized frame: the three n-gram
    # passes (n=1,2,3) each explode it, and unpinned each pass re-runs
    # the normalize regex + split over the whole corpus
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        F.split(normalize_text(F.col("text")), " ").alias("toks")
    ).localCheckpoint(eager=False)
    def gram_fn(n):
        # a closure, NOT `lambda i, n=n`: a binary HOF lambda receives the
        # array INDEX as its second argument, silently shadowing n
        return lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n))

    parts = []
    for n in (1, 2, 3):
        grams = docs.select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))
                    ),
                    gram_fn(n),
                )
            ).alias("gram")
        )
        parts.append(
            grams.agg(
                F.lit(n).cast("long").alias("n"),
                F.countDistinct("gram").alias("distinct_grams"),
                F.count(F.lit(1)).alias("total_grams"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "n",
        F.col("distinct_grams").cast("long").alias("distinct_grams"),
        F.col("total_grams").cast("long").alias("total_grams"),
        F.round(F.col("distinct_grams") / F.col("total_grams"), 6).alias(
            "distinct_ratio"
        ),
    )


def _diversity_oracle_part(n: int) -> str:
    return f"""
SELECT {n}::BIGINT AS n,
  count(DISTINCT gram)::BIGINT AS distinct_grams,
  count(*)::BIGINT AS total_grams,
  round(count(DISTINCT gram) / count(*)::DOUBLE, 6) AS distinct_ratio
FROM (
  SELECT array_to_string(tk[i:i+{n - 1}], ' ') AS gram
  FROM (
    SELECT string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')),
           ' ') AS tk
    FROM documents
  ), unnest(generate_series(1, greatest(len(tk) - {n - 1}, 1))) AS t(i)
)"""


CORPUS_DIVERSITY_ORACLE = " UNION ALL ".join(
    _diversity_oracle_part(n) for n in (1, 2, 3)
)


def q_corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report: doc count, token total, mean distinct-
    token ratio, and the dominant language with its share — the per-feed
    quality dashboard a crawling pipeline reviews before admission."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    per_doc = docs.select(
        "source",
        "lang",
        F.size(toks).cast("long").alias("n_toks"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias(
            "dr"
        ),
    )
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    top_lang = lang_counts.groupBy("source").agg(
        # highest count, lexicographically smallest lang on ties
        F.min(F.struct((-F.col("c")).alias("neg"), F.col("lang"))).alias(
            "top"
        ),
        F.sum("c").alias("total"),
    ).select(
        "source",
        F.col("top.lang").alias("top_lang"),
        F.round((-F.col("top.neg")) / F.col("total"), 6).alias(
            "top_lang_share"
        ),
    )
    stats = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        # mean over already-rounded per-doc ratios: DECIMAL-quantized so
        # the sum is exact and order-independent
        F.round(
            F.sum(F.col("dr").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_distinct_ratio"),
    )
    return stats.join(top_lang, "source")


CORPUS_SOURCE_STATS_ORACLE = """
WITH per_doc AS (
  SELECT source, lang,
    len(string_split(text, ' '))::BIGINT AS n_toks,
    round(len(list_distinct(string_split(text, ' ')))::DOUBLE
          / len(string_split(text, ' ')), 6) AS dr
  FROM documents
), lc AS (
  SELECT source, lang, count(*) AS c FROM per_doc GROUP BY 1, 2
), top AS (
  SELECT source, lang AS top_lang,
         round(c / sum(c) OVER (PARTITION BY source)::DOUBLE, 6)
           AS top_lang_share
  FROM lc
  QUALIFY row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) = 1
), stats AS (
  SELECT source, count(*)::BIGINT AS n_docs,
    sum(n_toks)::BIGINT AS total_tokens,
    round(CAST(sum(CAST(dr AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
      AS mean_distinct_ratio
  FROM per_doc GROUP BY source
)
SELECT s.source, s.n_docs, s.total_tokens, s.mean_distinct_ratio,
       t.top_lang, t.top_lang_share
FROM stats s JOIN top t USING (source)
"""


CURATION_MIN_DISTINCT_RATIO = 0.45


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation decision per document — the composition a
    training-data pipeline actually ships: exact-dedup keeper (min doc_id
    per normalized-content key), distinct-token-ratio quality gate,
    benchmark decontamination (4-gram overlap vs the doc_id%97 eval set),
    and the deterministic stratified sample, ANDed into one auditable
    `kept` flag with every signal observable. Eval-set docs are excluded
    from the corpus side entirely."""
    from .operators.corpus_ops import ngram_contamination, stratified_sample
    from .operators.dedup import normalize_text

    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % CONTAM_BENCH_MOD != 0
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "lang", "text")
    bench = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % CONTAM_BENCH_MOD == 0
    )
    keyed = docs.withColumn(
        "content_key", F.md5(normalize_text(F.col("text")))
    )
    keepers = keyed.groupBy("content_key").agg(
        F.min("doc_id").alias("keep_id")
    )
    toks = F.split(F.col("text"), " ")
    quality = keyed.join(keepers, "content_key").select(
        "doc_id",
        "lang",
        (F.col("doc_id") == F.col("keep_id")).alias("keep_dedup"),
        (
            F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6)
            >= CURATION_MIN_DISTINCT_RATIO
        ).alias("quality_ok"),
    )
    contam = ngram_contamination(docs, bench, n=CONTAM_N).select(
        "doc_id", "contaminated"
    )
    sampled = stratified_sample(
        docs.select("doc_id", "lang"), rates=SAMPLE_RATES, salt=SAMPLE_SALT
    ).select("doc_id", F.col("keep").alias("sampled"))
    out = quality.join(contam, "doc_id").join(sampled, "doc_id")
    return out.select(
        "doc_id",
        "lang",
        "keep_dedup",
        "quality_ok",
        "contaminated",
        "sampled",
        (
            F.col("keep_dedup")
            & F.col("quality_ok")
            & ~F.col("contaminated")
            & F.col("sampled")
        ).alias("kept"),
    )


CORPUS_CURATION_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id::BIGINT AS doc_id, lang, text FROM documents
  WHERE doc_id % {CONTAM_BENCH_MOD} != 0
), keyed AS (
  SELECT doc_id, lang, text,
         md5(trim(regexp_replace(lower(text),'\\s+',' ','g'))) AS content_key
  FROM corpus
), keepers AS (
  SELECT content_key, min(doc_id) AS keep_id FROM keyed GROUP BY content_key
), quality AS (
  SELECT k.doc_id, k.lang, (k.doc_id = kp.keep_id) AS keep_dedup,
    round(len(list_distinct(string_split(k.text,' ')))::DOUBLE
          / len(string_split(k.text,' ')), 6)
      >= {CURATION_MIN_DISTINCT_RATIO} AS quality_ok
  FROM keyed k JOIN keepers kp USING (content_key)
), toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ')
           AS tk
  FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(tk) - {CONTAM_N - 1}, 1)),
      i -> array_to_string(tk[i:i+{CONTAM_N - 1}], ' ')))) AS gram
  FROM toks
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {CONTAM_BENCH_MOD} = 0
), contam AS (
  SELECT g.doc_id, count(b.gram) > 0 AS contaminated
  FROM grams g LEFT JOIN bench b USING (gram)
  WHERE g.doc_id % {CONTAM_BENCH_MOD} != 0
  GROUP BY g.doc_id
), sampled AS (
  SELECT doc_id,
    round(('0x' || substr(md5(doc_id::VARCHAR || '|' || '{SAMPLE_SALT}'),
           1, 8))::BIGINT / 4294967296.0, 9)
      < (CASE lang {_SAMPLE_RATE_CASE} ELSE 0.0 END) AS keep
  FROM corpus
)
SELECT q.doc_id, q.lang, q.keep_dedup, q.quality_ok, c.contaminated,
       s.keep AS sampled,
       (q.keep_dedup AND q.quality_ok AND NOT c.contaminated AND s.keep)
         AS kept
FROM quality q
JOIN contam c USING (doc_id)
JOIN sampled s USING (doc_id)
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic; confusion counts vs the lang column."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.lower(F.col("text")), " "))
    def marker_hits(markers: tuple[str, ...]):
        ms = list(markers)
        return F.size(F.filter(toks, lambda t: t.isin(ms)))

    hits = {
        lang: marker_hits(markers)
        for lang, markers in {
            "en": ("the", "and", "of"),
            "de": ("der", "und", "das"),
            "fr": ("le", "et", "la"),
            "es": ("el", "y", "la"),
        }.items()
    }
    pred = (
        F.when(hits["de"] > hits["en"], F.lit("de"))
        .when(hits["fr"] > F.greatest(hits["en"], hits["de"]), F.lit("fr"))
        .when(
            hits["es"] > F.greatest(hits["en"], hits["de"], hits["fr"]), F.lit("es")
        )
        .otherwise(F.lit("en"))
    )
    return (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


TEXT_LANGID_ORACLE = """
WITH h AS (
  SELECT lang,
    len(list_filter(list_distinct(string_split(lower(text),' ')), t -> t IN ('the','and','of'))) AS h_en,
    len(list_filter(list_distinct(string_split(lower(text),' ')), t -> t IN ('der','und','das'))) AS h_de,
    len(list_filter(list_distinct(string_split(lower(text),' ')), t -> t IN ('le','et','la'))) AS h_fr,
    len(list_filter(list_distinct(string_split(lower(text),' ')), t -> t IN ('el','y','la'))) AS h_es
  FROM documents
)
SELECT lang,
  CASE WHEN h_de > h_en THEN 'de'
       WHEN h_fr > greatest(h_en, h_de) THEN 'fr'
       WHEN h_es > greatest(h_en, h_de, h_fr) THEN 'es'
       ELSE 'en' END AS lang_pred,
  count(*)::BIGINT AS n_docs
FROM h GROUP BY 1, 2
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
        F.substring(F.md5(normalize_text(F.col("text"))), 1, 8).alias("shard_key"),
    )


TEXT_FINGERPRINT_ORACLE = """
SELECT doc_id::BIGINT AS doc_id,
       md5(trim(regexp_replace(lower(text),'\\s+',' ','g'))) AS fingerprint,
       substr(md5(trim(regexp_replace(lower(text),'\\s+',' ','g'))), 1, 8) AS shard_key
FROM documents
"""


# ------------------------------------------------------------- relational

def _money(col):
    """Money columns are 2-decimal values stored as double: recover the exact
    decimal BEFORE arithmetic so sums are exact and engine-identical."""
    return F.round(col, 2).cast("decimal(18,2)")


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = _money(F.col("l_extendedprice")) * (1 - _money(F.col("l_discount")))
    charge = disc_price * (1 + _money(F.col("l_tax")))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_money(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_money(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


TPCH_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
           * (1 - CAST(round(l_discount, 2) AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
           * (1 - CAST(round(l_discount, 2) AS DECIMAL(18,2)))
           * (1 + CAST(round(l_tax, 2) AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority: top 10 unshipped orders by revenue."""
    cust = read_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    rev = _money(F.col("l_extendedprice")) * (1 - _money(F.col("l_discount")))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            F.col("l_orderkey").cast("long"),
            F.unix_timestamp("o_orderdate").cast("long").alias("orderdate_epoch"),
            "revenue",
        )
    )


TPCH_Q3_ORACLE = """
SELECT l_orderkey::BIGINT AS l_orderkey,
       epoch(o_orderdate)::BIGINT AS orderdate_epoch,
       CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
                * (1 - CAST(round(l_discount, 2) AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume per nation (5-way join, broadcast small dims)."""
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    rev = _money(F.col("l_extendedprice")) * (1 - _money(F.col("l_discount")))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


TPCH_Q5_ORACLE = """
SELECT n_name,
  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
           * (1 - CAST(round(l_discount, 2) AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  count(*)::BIGINT AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share per part brand (TPC-H Q14 shape): lineitem
    joined to a broadcast part dim, conditional aggregation with exact
    decimal money math."""
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    rev = _money(F.col("l_extendedprice")) * (1 - _money(F.col("l_discount")))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return joined.groupBy("p_brand").agg(
        F.sum(promo).cast("double").alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


TPCH_Q14_ORACLE = """
SELECT p_brand,
  CAST(sum(CASE WHEN p_type = 'ECONOMY'
           THEN CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
                * (1 - CAST(round(l_discount, 2) AS DECIMAL(18,2)))
           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
           * (1 - CAST(round(l_discount, 2) AS DECIMAL(18,2)))) AS DOUBLE)
    AS total_revenue,
  count(*)::BIGINT AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY 1
"""


def q_window_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "c_mktsegment",
            F.col("rank").cast("long"),
            F.col("c_custkey").cast("long"),
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
    )


WINDOW_TOP_ORACLE = """
SELECT c_mktsegment, rank::BIGINT AS rank, c_custkey::BIGINT AS c_custkey,
       round(c_acctbal, 2) AS c_acctbal
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rank
  FROM customer
) WHERE rank <= 3
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_minutes=30)
    return s.select(
        F.col("user_id").cast("long"),
        F.col("session_seq").cast("long"),
        F.col("n_events").cast("long"),
        F.unix_timestamp("session_start").cast("long").alias("start_epoch"),
        F.unix_timestamp("session_end").cast("long").alias("end_epoch"),
        "total_value",
    )


SESSIONIZE_ORACLE = """
WITH flagged AS (
  -- floor(epoch(..)) matches Spark's unix_timestamp second truncation
  SELECT user_id::BIGINT AS user_id, event_id, ts, value,
    CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), with_sid AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
       floor(epoch(min(ts)))::BIGINT AS start_epoch,
       floor(epoch(max(ts)))::BIGINT AS end_epoch,
       CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM with_sid GROUP BY 1, 2
"""


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_S = 86400  # each step must convert within 24h of the last


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel (view -> click -> purchase) per
    user, first-touch attribution: stage k is reached at the FIRST step-k
    event strictly after the stage k-1 timestamp and within the 24h
    conversion window (no funnel restart on later views). One shuffle:
    per-user sorted event array + a JVM fold (state = stage + the three
    stage timestamps) — the oracle computes the same thing as a
    windowed min-timestamp chain, so any fold/ordering/window bug breaks
    the hash. Epochs second-truncated like the other events queries."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.struct(F.col("ts"), F.col("event_type")).alias("e"),
    )
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list("e")).alias("seq")
    )
    nt = F.lit(None).cast("timestamp")

    def st(stage, t1, t2, t3):
        return F.struct(
            F.lit(stage).alias("stage") if isinstance(stage, int) else stage.alias("stage"),
            t1.alias("t1"), t2.alias("t2"), t3.alias("t3"),
        )

    s1, s2, s3 = FUNNEL_STEPS
    fold = F.aggregate(
        F.col("seq"),
        st(0, nt, nt, nt),
        lambda acc, e: F.when(
            (acc["stage"] == 0) & (e["event_type"] == s1),
            st(1, e["ts"], nt, nt),
        )
        .when(
            (acc["stage"] == 1)
            & (e["event_type"] == s2)
            & (e["ts"] > acc["t1"])
            & (e["ts"] <= acc["t1"] + F.expr(f"INTERVAL {FUNNEL_WINDOW_S} SECONDS")),
            st(2, acc["t1"], e["ts"], nt),
        )
        .when(
            (acc["stage"] == 2)
            & (e["event_type"] == s3)
            & (e["ts"] > acc["t2"])
            & (e["ts"] <= acc["t2"] + F.expr(f"INTERVAL {FUNNEL_WINDOW_S} SECONDS")),
            st(3, acc["t1"], acc["t2"], e["ts"]),
        )
        .otherwise(acc),
    )
    return seq.select(
        "user_id",
        fold["stage"].cast("long").alias("funnel_stage"),
        F.unix_timestamp(fold["t1"]).cast("long").alias("view_epoch"),
        F.unix_timestamp(fold["t2"]).cast("long").alias("click_epoch"),
        F.unix_timestamp(fold["t3"]).cast("long").alias("purchase_epoch"),
    )


EVENTS_FUNNEL_ORACLE = f"""
WITH u AS (
  SELECT DISTINCT user_id::BIGINT AS user_id FROM events
), v AS (
  SELECT user_id::BIGINT AS user_id, min(ts) AS t1
  FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id::BIGINT AS user_id, min(e.ts) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id::BIGINT
    AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL {FUNNEL_WINDOW_S} SECOND
  WHERE e.event_type = 'click' GROUP BY 1
), p AS (
  SELECT e.user_id::BIGINT AS user_id, min(e.ts) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id::BIGINT
    AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL {FUNNEL_WINDOW_S} SECOND
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT u.user_id,
  (CASE WHEN p.t3 IS NOT NULL THEN 3 WHEN c.t2 IS NOT NULL THEN 2
        WHEN v.t1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS funnel_stage,
  floor(epoch(v.t1))::BIGINT AS view_epoch,
  CASE WHEN c.t2 IS NOT NULL THEN floor(epoch(c.t2))::BIGINT END
    AS click_epoch,
  CASE WHEN p.t3 IS NOT NULL THEN floor(epoch(p.t3))::BIGINT END
    AS purchase_epoch
FROM u LEFT JOIN v USING (user_id)
LEFT JOIN c USING (user_id)
LEFT JOIN p USING (user_id)
"""


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .cast("long")
            .alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )


EVENTS_WINDOWED_ORACLE = """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
       count(*)::BIGINT AS n_events,
       CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def q_kg_relation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation statistics pivot (reference: taskmodules/common/mixins.py
    :210-297 renders counters as a pandas pivot): per head_label, one column
    per relation label with candidate counts + a total."""
    rels = _relations_df(spark, sf_dir, MAX_REL_DISTANCE)
    labels = sorted(set(RELATION_RULES.values()))
    return (
        rels.groupBy("head_surface")
        .pivot("label", labels)
        .count()
        .na.fill(0, labels)
        .select(
            "head_surface",
            *[F.col(l).cast("long").alias(l.replace(":", "_")) for l in labels],
        )
        .withColumn(
            "total",
            sum(F.col(l.replace(":", "_")) for l in labels).cast("long"),
        )
    )


_stats_cols = ",\n  ".join(
    f"sum(CASE WHEN label = '{l}' THEN 1 ELSE 0 END)::BIGINT AS {l.replace(':', '_')}"
    for l in sorted(set(RELATION_RULES.values()))
)

RELATION_STATS_ORACLE = f"""
WITH rels AS ({_relations_oracle(MAX_REL_DISTANCE)})
SELECT head_surface,
  {_stats_cols},
  count(*)::BIGINT AS total
FROM rels GROUP BY 1
"""


# ------------------------------------------- pipeline-stage UDF queries

def q_kg_mentions_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real pipeline NER stage (mapInPandas tokenize->window->infer->BIO
    decode, operators/mentions.py) with the gazetteer model. On the synthetic
    single-space corpus the regex tokenizer equals split-on-space, so the SQL
    oracle for kg_mentions applies verbatim. detect_mentions runs where
    its input partitions are, so the single-split documents scan is fanned
    out first, as the pipeline's documents stage does."""
    from .operators.mentions import detect_mentions
    from .plans.skew import ensure_parallelism

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        F.lit("en").alias("lang"),
        F.sha2("text", 256).alias("content_sha256"),
    )
    m = detect_mentions(
        ensure_parallelism(docs),
        model_name="gazetteer_ner",
        model_config={"gazetteer": GAZETTEER},
    )
    return m.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "surface",
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        "label",
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: payload -> sha256 -> deterministic features via
    mapInPandas; exploded to scalar rows so the value-hash is stable."""
    from .operators.multimodal import documents_as_media, extract_features

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    media = documents_as_media(docs, "image")
    feats = extract_features(media, dim=8)
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "content_sha256",
        F.posexplode("features").alias("dim", "value"),
    ).select(
        "media_id",
        "n_bytes",
        "content_sha256",
        F.col("dim").cast("long").alias("dim"),
        "value",
    )


_hexpair = (
    "((strpos('0123456789abcdef', substr(sha, 2*i+1, 1))-1)*16"
    " + strpos('0123456789abcdef', substr(sha, 2*i+2, 1))-1)"
)

MULTIMODAL_ORACLE = f"""
WITH f AS (
  SELECT doc_id::BIGINT AS media_id, sha256(text) AS sha,
         strlen(text)::BIGINT AS n_bytes
  FROM documents
), dims AS (SELECT unnest(generate_series(0, 7)) AS i)
SELECT media_id, n_bytes, sha AS content_sha256, i::BIGINT AS dim,
       {_hexpair} / 256.0 AS value
FROM f, dims
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (get_json_object) + bucketed aggregation —
    the metadata map of the document model is a JSON column at rest
    (SURVEY.md §1.4)."""
    from .plans.skew import ensure_parallelism

    # fan the scan out: one JSON parse per event rides the 1-2 split scan
    ev = ensure_parallelism(read_table(spark, sf_dir, "events"))
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type", (F.col("k") / 10).cast("long").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


EVENTS_JSON_ORACLE = """
WITH e AS (
  SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS k FROM events
)
SELECT event_type, floor(k / 10)::BIGINT AS k_bucket, count(*)::BIGINT AS n,
       min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k
FROM e WHERE k IS NOT NULL GROUP BY 1, 2
"""


def q_tpch_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): groupBy-HAVING subquery
    feeding a 3-way join."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_money(F.col("l_quantity"))).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_custkey").cast("long"),
            F.col("o_orderkey").cast("long"),
            F.col("total_qty").cast("double"),
        )
    )


BIG_ORDERS_ORACLE = """
WITH big AS (
  SELECT l_orderkey,
         sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) > 250
)
SELECT c_custkey::BIGINT AS c_custkey, o_orderkey::BIGINT AS o_orderkey,
       total_qty::DOUBLE AS total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_kg_triples_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully fused single-pass extractor (operators/extract.py) under the
    oracle gate: aggregated (subj, pred, obj, n) counts. Pairs are enumerated
    in BOTH directions (reversed relations), bounded by inner distance."""
    from .operators.extract import extract_triples_fused

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        F.sha2("text", 256).alias("content_sha256"),
    )
    raw = extract_triples_fused(
        docs,
        ner_model="gazetteer_ner",
        ner_config={"gazetteer": GAZETTEER},
        re_model="cooccurrence_re",
        max_distance=MAX_REL_DISTANCE,
    )
    return raw.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


TRIPLES_FUSED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, surface, start, start + length(surface) AS fin,
         {_gaz_case_sql()} AS label
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), pairs AS (
  SELECT h.surface AS subj, t.surface AS obj,
         {_rule_case_sql("h.label", "t.label")} AS pred
  FROM mentions h JOIN mentions t
    ON h.doc_id = t.doc_id
   AND NOT (h.start = t.start AND h.label = t.label)
   AND greatest(0, greatest(h.start, t.start) - least(h.fin, t.fin))
       <= {MAX_REL_DISTANCE}
)
SELECT subj, pred, obj, count(*)::BIGINT AS n
FROM pairs WHERE pred IS NOT NULL
GROUP BY 1, 2, 3
"""


# ------------------------------------------------------------- registry

# ------------------------------------------ oracle exposure of §2 operators

PART_W = 80  # synthesized fixed-width char partitions ("sentences")


def q_kg_partition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-partition filter with observable drops: documents get
    synthesized fixed-width sentence partitions, mentions are assigned by
    containment (range join), and relations whose args straddle partitions
    are counted as dropped per label (the reference logs each drop)."""
    from .operators.partitions import filter_relations_within_partition

    docs = read_table(spark, sf_dir, "documents")
    n_parts = F.greatest(
        F.ceil(F.col("n_chars") / PART_W).cast("int"), F.lit(1)
    )
    docs2 = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), n_parts - 1),
            lambda i: F.struct(
                (i * PART_W).cast("long").alias("start"),
                F.least((i + 1).cast("long") * PART_W, F.col("n_chars"))
                .cast("long")
                .alias("end"),
            ),
        ).alias("sentences"),
    )
    m = mentions_df(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat_ws("|", "doc_id", "start", "end", "label").alias("mention_id"),
        "start",
        "end",
        "label",
        "surface",
        F.lit(None).cast("string").alias("content_sha256"),
        F.lit(1.0).alias("score"),
        F.lit("pred").alias("source"),
    )
    pairs = candidate_pairs(m, max_distance=MAX_REL_DISTANCE, distance_mode="inner")
    rels = (
        pairs.where(F.col("head_end") <= F.col("tail_start"))
        .withColumn("label", _rule_label_col())
        .where(F.col("label").isNotNull())
    )
    kept, dropped = filter_relations_within_partition(rels, m, docs2)
    k = kept.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    d = dropped.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_dropped")
    )
    return (
        k.join(d, "label", "full")
        .select(
            "label",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


PARTITION_FILTER_ORACLE = f"""
WITH rels AS ({_relations_oracle(MAX_REL_DISTANCE)}),
-- fixed-width partitions: a mention is contained iff its start and its
-- last char land in the same chunk
parts AS (
  SELECT *,
    CASE WHEN head_start // {PART_W}
            = (head_start + length(head_surface) - 1) // {PART_W}
         THEN head_start // {PART_W} END AS head_part,
    CASE WHEN tail_start // {PART_W}
            = (tail_start + length(tail_surface) - 1) // {PART_W}
         THEN tail_start // {PART_W} END AS tail_part
  FROM rels
)
SELECT label,
  count(*) FILTER (head_part IS NOT NULL AND tail_part IS NOT NULL
                   AND head_part = tail_part)::BIGINT AS n_kept,
  count(*) FILTER (head_part IS NULL OR tail_part IS NULL
                   OR head_part != tail_part)::BIGINT AS n_dropped
FROM parts GROUP BY 1
"""


DUP_LABEL = "engine:supports_op"


def q_kg_dedup_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-argument resolution keep_first / keep_none: candidates
    with label {DUP_LABEL} are injected twice (two 'sources'); keep_first
    must collapse them back to one row per key, keep_none must drop the
    whole duplicated group."""
    from .operators.candidates import resolve_duplicate_candidates

    rels = _relations_df(spark, sf_dir, MAX_REL_DISTANCE).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat_ws("|", "doc_id", "head_start").alias("head_mention_id"),
        F.concat_ws("|", "doc_id", "tail_start").alias("tail_mention_id"),
        F.col("head_start").cast("long"),
        F.col("tail_start").cast("long"),
        "label",
    )
    dup = rels.where(F.col("label") == DUP_LABEL)
    both = rels.unionByName(dup)
    out_cols = ["doc_id", "head_start", "tail_start", "label"]
    first = resolve_duplicate_candidates(both, "keep_first").select(*out_cols)
    none = resolve_duplicate_candidates(both, "keep_none").select(*out_cols)
    return first.withColumn("policy", F.lit("keep_first")).unionByName(
        none.withColumn("policy", F.lit("keep_none"))
    )


DEDUP_POLICY_ORACLE = f"""
WITH rels AS ({_relations_oracle(MAX_REL_DISTANCE)})
SELECT doc_id, head_start, tail_start, label, 'keep_first' AS policy
FROM rels
UNION ALL
SELECT doc_id, head_start, tail_start, label, 'keep_none' AS policy
FROM rels WHERE label != '{DUP_LABEL}'
"""


def q_window_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """enumerate_windows (exactly-once labeling) as a JVM-side closed form
    over every distinct document length — the operator the long-document
    extractor tiles with (max 128, overlap 16)."""
    from .functions.window import enumerate_windows_col

    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select(
        F.col("n_chars").cast("long").alias("seq_len")
    ).dropDuplicates(["seq_len"])
    return lens.select(
        "seq_len",
        F.posexplode(enumerate_windows_col(F.col("seq_len"), 128, 16)).alias(
            "widx", "w"
        ),
    ).select(
        "seq_len",
        F.col("widx").cast("long").alias("widx"),
        F.col("w.tok_start").alias("tok_start"),
        F.col("w.tok_end").alias("tok_end"),
        F.col("w.rel_start").alias("rel_start"),
        F.col("w.rel_end").alias("rel_end"),
    )


WINDOW_SLICES_ORACLE = """
WITH lens AS (SELECT DISTINCT n_chars::BIGINT AS seq_len FROM documents),
counted AS (
  SELECT seq_len,
    CASE WHEN seq_len <= 128 THEN 1
         ELSE 1 + ceil((seq_len - 128) / 96.0)::BIGINT END AS nw
  FROM lens
), ks AS (
  SELECT seq_len, unnest(generate_series(0, nw - 1))::BIGINT AS widx
  FROM counted
), spans AS (
  SELECT seq_len, widx,
    (CASE WHEN widx = 0 THEN 0 ELSE 112 + (widx - 1) * 96 - 16 END)::BIGINT
      AS tok_start
  FROM ks
), ends AS (
  SELECT seq_len, widx, tok_start,
         least(tok_start + 128, seq_len)::BIGINT AS tok_end
  FROM spans
)
SELECT seq_len, widx, tok_start, tok_end,
  (CASE WHEN widx = 0 THEN 0 ELSE 16 END)::BIGINT AS rel_start,
  ((CASE WHEN tok_end = seq_len THEN seq_len ELSE tok_end - 16 END)
   - tok_start)::BIGINT AS rel_end
FROM ends
"""


def q_seq2seq_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generative-RE codec round-trip: relations linearize per document to
    '<triplet> head <subj> tail <obj> label' strings (head-grouped,
    JVM-side fold over the canonically sorted relation array), then the
    resumable state-machine parse (mapInPandas) recovers the triplets."""
    from typing import Iterator

    import pandas as pd

    from .functions.seq2seq import parse_triplets

    rels = _relations_df(spark, sf_dir, MAX_REL_DISTANCE)
    sorted_arr = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("head_start").alias("k1"),
                F.col("tail_start").alias("k2"),
                F.struct(
                    F.col("head_surface").alias("h"),
                    F.col("tail_surface").alias("t"),
                    F.col("label").alias("l"),
                ).alias("t"),
            )
        )
    )
    lin = F.aggregate(
        sorted_arr,
        F.struct(F.lit("").alias("head"), F.lit("").alias("s")),
        lambda acc, x: F.struct(
            x["t"]["h"].alias("head"),
            F.concat(
                acc["s"],
                F.when(
                    x["t"]["h"] != acc["head"],
                    F.concat(F.lit(" <triplet> "), x["t"]["h"]),
                ).otherwise(F.lit("")),
                F.lit(" <subj> "),
                x["t"]["t"],
                F.lit(" <obj> "),
                x["t"]["l"],
            ).alias("s"),
        ),
        lambda acc: F.ltrim(acc["s"]),
    )
    linearized = rels.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        lin.alias("lin")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, s in zip(pdf["doc_id"], pdf["lin"]):
                for h, t, l in parse_triplets(s):
                    rows.append((doc_id, h, t, l))
            yield pd.DataFrame(
                rows, columns=["doc_id", "head_text", "tail_text", "label"]
            )

    return linearized.mapInPandas(
        parse, schema="doc_id long, head_text string, tail_text string, label string"
    )


SEQ2SEQ_ROUNDTRIP_ORACLE = f"""
WITH rels AS ({_relations_oracle(MAX_REL_DISTANCE)})
SELECT doc_id, head_surface AS head_text, tail_surface AS tail_text, label
FROM rels
"""


def q_corpus_brat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRAT standoff parse path: T-lines are synthesized from the gazetteer
    mentions (deterministic fixture), then parsed back through the same
    rlike + regexp_extract pipeline the file reader uses."""
    from .sources.corpus_formats import brat_entities_from_lines

    m = mentions_df(spark, sf_dir)
    lines = m.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("T"),
            F.col("start"),
            F.lit("\t"),
            F.col("label"),
            F.lit(" "),
            F.col("start"),
            F.lit(" "),
            F.col("end"),
            F.lit("\t"),
            F.col("surface"),
        ).alias("line"),
    )
    parsed = brat_entities_from_lines(lines)
    return parsed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "ann_id",
        "label",
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        "surface",
    )


CORPUS_BRAT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
)
SELECT doc_id, 'T' || CAST(start AS VARCHAR) AS ann_id,
       {_gaz_case_sql()} AS label, start,
       (start + length(surface))::BIGINT AS "end", surface
FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
"""


# --------------------------- whitelist / layer merge / grounding / markers

WHITELIST = [("ENGINE", "OP"), ("ACTOR", "ENGINE")]


def q_kg_whitelist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-type whitelist on candidate pairs: only (head_label,
    tail_label) tuples in the whitelist survive (the reference filters
    before encoding)."""
    m = mentions_df(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws("|", "doc_id", "start", "end", "label").alias("mention_id"),
        F.col("start").cast("int").alias("start"),
        F.col("end").cast("int").alias("end"),
        "label",
        "surface",
        F.lit(None).cast("string").alias("content_sha256"),
    )
    pairs = candidate_pairs(
        m,
        max_distance=MAX_REL_DISTANCE,
        distance_mode="inner",
        argument_whitelist=WHITELIST,
    )
    return (
        pairs.where(F.col("head_end") <= F.col("tail_start"))
        .groupBy("head_label", "tail_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


WHITELIST_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, surface, start, {_gaz_case_sql()} AS label
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
)
SELECT h.label AS head_label, t.label AS tail_label, count(*)::BIGINT AS n_pairs
FROM mentions h JOIN mentions t
  ON h.doc_id = t.doc_id
 AND NOT (h.start = t.start AND h.label = t.label)
 AND h.start + length(h.surface) <= t.start
 AND t.start - (h.start + length(h.surface)) <= {MAX_REL_DISTANCE}
WHERE (h.label, t.label) IN ({",".join(f"('{a}','{b}')" for a, b in WHITELIST)})
GROUP BY 1, 2
"""


def q_kg_layer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source annotation-layer merge: a 'model_a' layer (distance<=20,
    score 0.6) unioned with a 'model_b' layer (distance<=40, score 0.9),
    deduplicated by relation value keeping the max score and min source."""
    from .operators.relations import merge_relation_layers

    base = _relations_with_distance_df(spark, sf_dir, 40)

    def layer(max_d: int, source: str, score: float) -> DataFrame:
        return base.where(F.col("distance") <= max_d).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat_ws("|", "doc_id", "head_start").alias("head_mention_id"),
            F.concat_ws("|", "doc_id", "tail_start").alias("tail_mention_id"),
            "label",
            F.lit(score).alias("score"),
            F.lit(source).alias("source"),
            F.lit(None).cast("string").alias("content_sha256"),
        )

    merged = merge_relation_layers(
        layer(20, "model_a", 0.6), layer(40, "model_b", 0.9)
    )
    return merged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "head_mention_id",
        "tail_mention_id",
        "label",
        F.round("score", 4).alias("score"),
        "source",
    )


LAYER_MERGE_ORACLE = f"""
WITH rels AS ({_relations_oracle(MAX_REL_DISTANCE)}),
dist AS (
  SELECT *, tail_start - (head_start + length(head_surface)) AS distance
  FROM rels
),
layers AS (
  SELECT doc_id, head_start, tail_start, label, 0.6 AS score,
         'model_a' AS source
  FROM dist WHERE distance <= 20
  UNION ALL
  SELECT doc_id, head_start, tail_start, label, 0.9, 'model_b'
  FROM dist WHERE distance <= 40
)
SELECT doc_id,
       CAST(doc_id AS VARCHAR) || '|' || CAST(head_start AS VARCHAR)
         AS head_mention_id,
       CAST(doc_id AS VARCHAR) || '|' || CAST(tail_start AS VARCHAR)
         AS tail_mention_id,
       label,
       round(max(score), 4) AS score,
       min(source) AS source
FROM layers
GROUP BY 1, 2, 3, 4
"""


def q_seq2seq_grounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity grounding: case-insensitive first occurrence of each distinct
    relation-argument surface back in its document text (the generative
    decoder's span-recovery step)."""
    rels = _relations_df(spark, sf_dir, MAX_REL_DISTANCE)
    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    ents = (
        rels.select("doc_id", F.col("head_surface").alias("entity"))
        .unionByName(rels.select("doc_id", F.col("tail_surface").alias("entity")))
        .dropDuplicates(["doc_id", "entity"])
    )
    g = ents.join(docs, "doc_id")
    pos = F.instr(F.lower("text"), F.lower("entity"))  # 1-based, 0 = missing
    return g.select(
        "doc_id",
        "entity",
        F.when(pos > 0, (pos - 1).cast("long")).alias("gstart"),
        F.when(pos > 0, (pos - 1 + F.length("entity")).cast("long")).alias("gend"),
    )


GROUNDING_ORACLE = f"""
WITH rels AS ({_relations_oracle(MAX_REL_DISTANCE)}),
ents AS (
  SELECT DISTINCT doc_id, head_surface AS entity FROM rels
  UNION
  SELECT DISTINCT doc_id, tail_surface FROM rels
)
SELECT e.doc_id, e.entity,
  CASE WHEN strpos(lower(d.text), lower(e.entity)) > 0
       THEN (strpos(lower(d.text), lower(e.entity)) - 1)::BIGINT END AS gstart,
  CASE WHEN strpos(lower(d.text), lower(e.entity)) > 0
       THEN (strpos(lower(d.text), lower(e.entity)) - 1
             + length(e.entity))::BIGINT END AS gend
FROM ents e JOIN documents d ON e.doc_id = d.doc_id::BIGINT
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media payloads: one row per sampled byte
    offset (the 1->N media explode, JVM-side — no decode needed to place
    the frame grid)."""
    from .operators.multimodal import documents_as_media, sample_frames

    docs = read_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return sample_frames(media, every_n_bytes=64, max_frames=8).select(
        F.col("media_id").cast("long").alias("media_id"),
        "media_type",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
    )


MULTIMODAL_FRAMES_ORACLE = """
SELECT doc_id::BIGINT AS media_id, 'image' AS media_type,
       unnest(generate_series(0, least(length(text) // 64, 7)))::BIGINT
         AS frame_idx,
       (unnest(generate_series(0, least(length(text) // 64, 7))) * 64)::BIGINT
         AS byte_offset
FROM documents
"""


def q_kg_gold_pair_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-target construction (encode_target): candidate pairs get
    their gold label where one exists, the none label otherwise — the
    none-negatives a relation classifier trains on."""
    from .operators.candidates import label_gold_pairs

    m = mentions_df(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws("|", "doc_id", "start", "end", "label").alias("mention_id"),
        F.col("start").cast("int").alias("start"),
        F.col("end").cast("int").alias("end"),
        "label",
        "surface",
        F.lit(None).cast("string").alias("content_sha256"),
    )
    pairs = candidate_pairs(m, max_distance=MAX_REL_DISTANCE).where(
        F.col("head_end") <= F.col("tail_start")
    )
    # gold = the rule-labeled pairs at distance <= 20 (a strict subset)
    gold = (
        pairs.where(F.col("distance") <= 20)
        .withColumn("label", _rule_label_col())
        .where(F.col("label").isNotNull())
        .select("doc_id", "head_mention_id", "tail_mention_id", "label")
    )
    labeled = label_gold_pairs(pairs, gold, none_label="no_relation")
    return labeled.groupBy("gold_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


GOLD_PAIR_LABELS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, surface, start, {_gaz_case_sql()} AS label
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), pairs AS (
  SELECT h.doc_id, h.start AS head_start, t.start AS tail_start,
         h.label AS head_label, t.label AS tail_label,
         t.start - (h.start + length(h.surface)) AS distance
  FROM mentions h JOIN mentions t
    ON h.doc_id = t.doc_id
   AND NOT (h.start = t.start AND h.label = t.label)
   AND h.start + length(h.surface) <= t.start
   AND t.start - (h.start + length(h.surface)) <= {MAX_REL_DISTANCE}
), labeled AS (
  SELECT CASE WHEN distance <= 20 AND {_rule_case_sql()} IS NOT NULL
              THEN {_rule_case_sql()} ELSE 'no_relation' END AS gold_label
  FROM pairs
)
SELECT gold_label, count(*)::BIGINT AS n_pairs FROM labeled GROUP BY 1
"""


def q_io_tag_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO tag-sequence decode: per-token labels (gazetteer class or O),
    maximal runs of the same label become one span — the IO codec's
    merge-adjacent semantics, which differ from BIO (two adjacent
    same-label mentions merge here). Runs the actual io_tags_to_spans
    function per document; the oracle is a gaps-and-islands SQL."""
    from typing import Iterator

    import pandas as pd

    from .functions.span import io_tags_to_spans

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split("text", " ").alias("tokens"),
    )
    gaz_items = list(GAZETTEER.items())

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = dict(gaz_items)
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                tags = [gaz.get(t, "O") for t in tokens]
                for label, (s, e) in io_tags_to_spans(tags):
                    rows.append((doc_id, s, e, label))
            yield pd.DataFrame(
                rows, columns=["doc_id", "tok_start", "tok_end", "label"]
            )

    return docs.mapInPandas(
        decode, schema="doc_id long, tok_start long, tok_end long, label string"
    )


IO_TAG_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text,' ')) AS surface,
         (generate_subscripts(string_split(text,' '), 1) - 1)::BIGINT AS ord
  FROM documents
), tagged AS (
  SELECT doc_id, ord, {_gaz_case_sql()} AS label
  FROM toks WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), islands AS (
  -- gaps-and-islands: consecutive same-label tokens share (ord - rn)
  SELECT doc_id, ord, label,
         ord - row_number() OVER (
           PARTITION BY doc_id, label ORDER BY ord) AS grp
  FROM tagged
)
SELECT doc_id, min(ord) AS tok_start, max(ord) AS tok_end, label
FROM islands GROUP BY doc_id, label, grp
"""


def q_doc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-to-text layer analog (reference TextToTextTaskModule /
    AnnotationWithText: a generated text annotation per document). The
    sandbox 'model' is deterministic extractive summarization — the first
    sentence ('.'/'!'/'?'-terminated, else the whole text) plus its
    length — exercising the document -> generated-text row shape."""
    docs = read_table(spark, sf_dir, "documents")
    first_sentence = F.regexp_extract(F.col("text"), r"^([^.!?]*[.!?]?)", 1)
    summary = F.trim(first_sentence)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        summary.alias("summary"),
        F.length(summary).cast("long").alias("summary_chars"),
    )


DOC_SUMMARY_ORACLE = r"""
SELECT doc_id::BIGINT AS doc_id,
       trim(regexp_extract(text, '^([^.!?]*[.!?]?)', 1)) AS summary,
       length(trim(regexp_extract(text, '^([^.!?]*[.!?]?)', 1)))::BIGINT
         AS summary_chars
FROM documents
"""


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways a data pipeline needs it: whitespace tokens
    and BPE-ish regex tokens (word pieces + punctuation, the
    functions/tokenize.py TOKEN_RE class), per language."""
    from .plans.skew import ensure_parallelism

    # fan the scan out: two regex passes per doc ride the scan stage
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    ws = F.size(F.split("text", " "))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+|[^\w\s]"), 0))
    return docs.groupBy("lang").agg(
        F.sum(ws).cast("long").alias("ws_tokens"),
        F.sum(bpe).cast("long").alias("bpe_tokens"),
        F.round(F.sum(bpe) / F.sum(ws), 6).alias("bpe_per_ws"),
    )


TEXT_TOKEN_COUNTS_ORACLE = r"""
SELECT lang,
  sum(len(string_split(text, ' ')))::BIGINT AS ws_tokens,
  sum(len(regexp_extract_all(text, '\w+|[^\w\s]')))::BIGINT AS bpe_tokens,
  round(sum(len(regexp_extract_all(text, '\w+|[^\w\s]')))::DOUBLE
        / sum(len(string_split(text, ' '))), 6) AS bpe_per_ws
FROM documents GROUP BY 1
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: minute/hour/day buckets
    materialized in ONE pass (explode the resolution axis, then a single
    grouped aggregation — no per-resolution rescan of the fact table)."""
    from .plans.skew import ensure_parallelism

    # fan the scan out (3x explode + partial agg ride the scan stage)
    events = ensure_parallelism(read_table(spark, sf_dir, "events"))
    e = events.select(
        "ts",
        "event_type",
        "value",
        F.explode(
            F.array(F.lit("minute"), F.lit("hour"), F.lit("day"))
        ).alias("resolution"),
    )
    bucket = (
        F.when(F.col("resolution") == "minute", F.date_trunc("minute", F.col("ts")))
        .when(F.col("resolution") == "hour", F.date_trunc("hour", F.col("ts")))
        .otherwise(F.date_trunc("day", F.col("ts")))
    )
    return (
        e.groupBy("resolution", bucket.alias("bucket_start"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )


EVENTS_ROLLUP_ORACLE = """
WITH res AS (
  SELECT e.*, r.resolution
  FROM events e, (VALUES ('minute'), ('hour'), ('day')) r(resolution)
)
SELECT resolution,
  CASE resolution WHEN 'minute' THEN date_trunc('minute', ts)
                  WHEN 'hour' THEN date_trunc('hour', ts)
                  ELSE date_trunc('day', ts) END AS bucket_start,
  event_type,
  count(*)::BIGINT AS n_events,
  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM res
GROUP BY 1, 2, 3
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click at
    or before it (union-tag + one window pass; the oracle is DuckDB's
    native ASOF JOIN)."""
    from .streaming.sessions import asof_last_event

    events = read_table(spark, sf_dir, "events")
    return asof_last_event(events, "purchase", "click").select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        "ts",
        "asof_ts",
    )


EVENTS_ASOF_ORACLE = """
SELECT p.event_id::BIGINT AS event_id, p.user_id::BIGINT AS user_id,
       p.ts, c.ts AS asof_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ----------------------------------------------------------- TACRED source

def q_corpus_tacred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TACRED JSON parse path: one TACRED-shaped example is synthesized per
    document (subj/obj = its first two gazetteer tokens, token-index spans,
    end-inclusive), serialized with to_json, then parsed back through the
    same from_json + token->char prefix-sum core as the file reader."""
    from .sources.corpus_formats import tacred_from_json_strings

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split("text", " ").alias("token"),
        F.posexplode(F.split("text", " ")).alias("ord", "surface"),
    ).where(F.col("surface").isin(list(GAZETTEER)))
    w = W.partitionBy("doc_id").orderBy("ord")
    two = (
        toks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("doc_id")
        .agg(
            F.first("token").alias("token"),
            F.min(F.when(F.col("rn") == 1, F.col("ord"))).alias("subj_ord"),
            F.min(F.when(F.col("rn") == 1, F.col("surface"))).alias("subj_surface"),
            F.min(F.when(F.col("rn") == 2, F.col("ord"))).alias("obj_ord"),
            F.min(F.when(F.col("rn") == 2, F.col("surface"))).alias("obj_surface"),
        )
        .where(F.col("obj_ord").isNotNull())
    )
    jsonified = two.select(
        F.to_json(
            F.struct(
                F.concat(F.lit("ex"), F.col("doc_id")).alias("id"),
                F.col("doc_id").cast("string").alias("docid"),
                F.coalesce(
                    _rule_label_col_from(
                        _gaz_label_col(F.col("subj_surface")),
                        _gaz_label_col(F.col("obj_surface")),
                    ),
                    F.lit("no_relation"),
                ).alias("relation"),
                F.col("token"),
                F.col("subj_ord").cast("int").alias("subj_start"),
                F.col("subj_ord").cast("int").alias("subj_end"),
                F.col("obj_ord").cast("int").alias("obj_start"),
                F.col("obj_ord").cast("int").alias("obj_end"),
                _gaz_label_col(F.col("subj_surface")).alias("subj_type"),
                _gaz_label_col(F.col("obj_surface")).alias("obj_type"),
            )
        ).alias("json")
    )
    parsed = tacred_from_json_strings(jsonified)
    return parsed.select(
        "example_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        "label",
        "head_label",
        F.col("head_start").cast("long"),
        F.col("head_end").cast("long"),
        "tail_label",
        F.col("tail_start").cast("long"),
        F.col("tail_end").cast("long"),
    )


TACRED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, unnest(string_split(text,' ')) AS surface,
         (generate_subscripts(string_split(text,' '), 1) - 1)::BIGINT AS ord
  FROM documents
), pos AS (
  SELECT doc_id, surface, ord,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), gaz AS (
  SELECT doc_id, surface, ord, start,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), two AS (
  SELECT s.doc_id,
         s.surface AS subj_surface, s.start AS subj_char,
         o.surface AS obj_surface, o.start AS obj_char
  FROM gaz s JOIN gaz o ON s.doc_id = o.doc_id AND s.rn = 1 AND o.rn = 2
), labeled AS (
  SELECT doc_id,
         {_gaz_case_sql().replace("surface", "subj_surface")} AS head_label,
         {_gaz_case_sql().replace("surface", "obj_surface")} AS tail_label,
         subj_surface, obj_surface, subj_char, obj_char
  FROM two
)
SELECT 'ex' || CAST(doc_id AS VARCHAR) AS example_id, doc_id,
  coalesce({_rule_case_sql()}, 'no_relation') AS label,
  head_label,
  subj_char AS head_start,
  (subj_char + length(subj_surface))::BIGINT AS head_end,
  tail_label,
  obj_char AS tail_start,
  (obj_char + length(obj_surface))::BIGINT AS tail_end
FROM labeled
"""


def _rule_label_col_from(head_label_col, tail_label_col):
    expr = None
    for (hl, tl), lab in RELATION_RULES.items():
        cond = (head_label_col == hl) & (tail_label_col == tl)
        expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
    return expr


# -------------------------------------- span-score combine + majority vote

def q_span_score_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-score combination mean/max/min/product over deterministic
    per-char token scores — the reference's score fold as one JVM
    aggregate per mode (no UDF). Scores for char i of a mention starting
    at s: ((s*7 + i) % 10 + 1) / 10."""
    m = mentions_df(spark, sf_dir)
    scores = F.transform(
        F.sequence(F.lit(0).cast("long"), F.length("surface").cast("long") - 1),
        lambda i: (((F.col("start") * 7 + i) % 10 + 1) / 10.0),
    )
    withs = m.withColumn("scores", scores)
    n = F.size("scores")
    mean = F.aggregate(
        F.col("scores"), F.lit(0.0), lambda a, x: a + x
    ) / n
    mx = F.array_max("scores")
    mn = F.array_min("scores")
    prod = F.aggregate(F.col("scores"), F.lit(1.0), lambda a, x: a * x)
    return withs.select(
        "doc_id",
        "start",
        "surface",
        F.round(mean, 6).alias("score_mean"),
        F.round(mx, 6).alias("score_max"),
        F.round(mn, 6).alias("score_min"),
        F.round(prod, 6).alias("score_product"),
    )


SPAN_SCORE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), ments AS (
  SELECT doc_id, start, surface,
         list_transform(generate_series(0, length(surface) - 1),
           i -> ((start * 7 + i) % 10 + 1) / 10.0) AS scores
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
)
SELECT doc_id, start, surface,
  round(list_sum(scores) / len(scores), 6) AS score_mean,
  round(list_max(scores), 6) AS score_max,
  round(list_min(scores), 6) AS score_min,
  round(list_aggregate(scores, 'product'), 6) AS score_product
FROM ments
"""


def q_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-common-label vote per span identity: every third document
    relabels its mentions 'NOISE', and the vote recovers the majority
    label per surface (count desc, label asc tie-break)."""
    m = mentions_df(spark, sf_dir)
    noisy = m.select(
        "surface",
        F.when(F.col("doc_id") % 3 == 0, F.lit("NOISE"))
        .otherwise(F.col("label"))
        .alias("label"),
    )
    counts = noisy.groupBy("surface", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("surface").orderBy(F.col("n").desc(), F.col("label"))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("surface", F.col("label").alias("voted_label"), F.col("n").cast("long").alias("n_votes"))
    )


LABEL_VOTE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, unnest(string_split(text,' ')) AS surface
  FROM documents
), ments AS (
  SELECT doc_id, surface,
         CASE WHEN doc_id % 3 = 0 THEN 'NOISE' ELSE {_gaz_case_sql()} END AS label
  FROM toks WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), counts AS (
  SELECT surface, label, count(*)::BIGINT AS n FROM ments GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY surface ORDER BY n DESC, label) AS rn
  FROM counts
)
SELECT surface, label AS voted_label, n AS n_votes FROM ranked WHERE rn = 1
"""


# --------------------------------------- nary / multilabel / tag bootstrap

def q_kg_nary_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaryRelation canonical argument order: one n-ary relation per doc
    over its gazetteer mentions (role = lowercased span label), arguments
    sorted by (start, end, role) — the reference comparator — regardless
    of input order."""
    from .operators.nary import group_nary_relations

    m = mentions_df(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "start",
        "end",
        "label",
        F.concat_ws("|", "doc_id", "start").alias("mention_id"),
    )
    nary = group_nary_relations(m, F.lower(F.col("label")))
    return nary.select(
        "doc_id",
        "label",
        F.posexplode("arguments").alias("arg_pos", "a"),
    ).select(
        "doc_id",
        "label",
        F.col("arg_pos").cast("long").alias("arg_pos"),
        F.col("a.role").alias("role"),
        F.col("a.start").alias("start"),
        F.col("a.end").alias("end"),
    )


NARY_ORDER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, lower({_gaz_case_sql()}) AS role, start,
         (start + length(surface))::BIGINT AS "end"
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
)
SELECT doc_id, 'mentions_of' AS label,
       (row_number() OVER (PARTITION BY doc_id ORDER BY start, "end", role)
        - 1)::BIGINT AS arg_pos,
       role, start, "end"
FROM mentions
"""


def q_kg_multilabel_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiLabeledSpan layer: each gazetteer span carries two labels (its
    gazetteer class + a length class), collapsed to a sorted label set per
    span; output proves set semantics survive the collapse."""
    from .operators.nary import to_multi_labeled

    m = mentions_df(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "start", "end", "label",
        "surface",
    )
    two = m.unionByName(
        m.withColumn("label", F.concat(F.lit("LEN"), F.length("surface")))
    ).select("doc_id", "start", "end", "label")
    multi = to_multi_labeled(two)
    return multi.select(
        "doc_id",
        "start",
        "end",
        F.concat_ws(",", "labels").alias("labels_str"),
        F.size("labels").cast("long").alias("n_labels"),
    )


MULTILABEL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, surface, start,
         (start + length(surface))::BIGINT AS "end",
         {_gaz_case_sql()} AS label
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), two AS (
  SELECT doc_id, start, "end", label FROM mentions
  UNION ALL
  SELECT doc_id, start, "end", 'LEN' || CAST(length(surface) AS VARCHAR)
  FROM mentions
)
SELECT doc_id, start, "end",
       list_aggregate(list_sort(list_distinct(list(label))), 'string_agg', ',')
         AS labels_str,
       len(list_distinct(list(label)))::BIGINT AS n_labels
FROM two GROUP BY doc_id, start, "end"
"""


def q_kg_tokens_tags_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokens_and_tags_to_text_and_labeled_spans (the reference's fixture
    bootstrap): per-token BIO tags built from the gazetteer, decoded back
    to char-offset labeled spans over the reconstructed text. Lossless for
    the single-token spans, so the decoded set is the mention set."""
    from typing import Iterator

    import pandas as pd

    from .functions.span import tokens_and_tags_to_text_and_labeled_spans

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split("text", " ").alias("tokens"),
    )
    gaz_items = list(GAZETTEER.items())

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = dict(gaz_items)
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                toks = list(tokens)
                tags = [
                    f"B-{gaz[t]}" if t in gaz else "O" for t in toks
                ]
                _, spans = tokens_and_tags_to_text_and_labeled_spans(
                    toks, tags
                )
                for label, (s, e) in spans:
                    rows.append((doc_id, s, e, label))
            yield pd.DataFrame(
                rows, columns=["doc_id", "start", "end", "label"]
            )

    return docs.mapInPandas(
        decode, schema="doc_id long, start long, end long, label string"
    )


TOKENS_TAGS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
)
SELECT doc_id, start, (start + length(surface))::BIGINT AS "end",
       {_gaz_case_sql()} AS label
FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
"""


# -------------------------------------------------- RE encode window/gather

RE_WIN_TOKENS = 8  # deliberately small so sf docs exercise every branch


def _token_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed token-space candidate pairs of gazetteer tokens (span =
    [tok_idx, tok_idx+1)) with the document token count."""
    from .operators.re_encoding import token_distance_col, token_mentions

    docs = read_table(spark, sf_dir, "documents")
    # pin: the explode+filter runs once, not once per join side (h AND t)
    toks = token_mentions(docs, list(GAZETTEER)).localCheckpoint(
        eager=False
    )
    lens = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split("text", " ")).cast("long").alias("seq_len"),
    )
    h = toks.select(
        "doc_id",
        F.col("tok_idx").alias("head_tok_start"),
        (F.col("tok_idx") + 1).alias("head_tok_end"),
    )
    t = toks.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("tok_idx").alias("tail_tok_start"),
        (F.col("tok_idx") + 1).alias("tail_tok_end"),
    )
    pairs = h.join(
        t,
        (h.doc_id == t.doc_id2)
        & (F.col("head_tok_start") < F.col("tail_tok_start")),
    ).drop("doc_id2")
    # explicit fan-out of the pair stream: the within-doc pair join
    # multiplies a small input, so AQE would coalesce the downstream
    # (per-pair marker/pooler/window work) to a couple of tasks;
    # consumers' distance filters still push below the repartition
    n_out = spark.sparkContext.defaultParallelism * 4
    return pairs.join(lens, "doc_id").withColumn(
        "tok_distance",
        token_distance_col(
            F.col("head_tok_start"),
            F.col("head_tok_end"),
            F.col("tail_tok_start"),
            F.col("tail_tok_end"),
            "inner",
        ),
    ).repartition(n_out)


def q_kg_re_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-space distance filter + window-around-candidate: candidates
    within 12 tokens keep a window of {RE_WIN_TOKENS} tokens centered on
    the (head..tail) required slice; candidates whose required slice
    exceeds the window are flagged skipped (the reference's
    skipped_too_long counter), survivors get shifted arg offsets."""
    from .operators.re_encoding import with_candidate_window

    pairs = _token_pairs_df(spark, sf_dir).where(F.col("tok_distance") <= 12)
    out = with_candidate_window(pairs, RE_WIN_TOKENS)
    return out.select(
        "doc_id",
        "head_tok_start",
        "tail_tok_start",
        F.col("tok_distance").cast("long").alias("tok_distance"),
        "skipped",
        "win_start",
        "win_end",
        "new_head_start",
        "new_tail_start",
    )


RE_WINDOWS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text,' ')) AS surface,
         (generate_subscripts(string_split(text,' '), 1) - 1)::BIGINT AS tok_idx,
         len(string_split(text,' '))::BIGINT AS seq_len
  FROM documents
), ments AS (
  SELECT doc_id, tok_idx, seq_len FROM toks
  WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), pairs AS (
  SELECT h.doc_id, h.tok_idx AS head_tok_start, t.tok_idx AS tail_tok_start,
         h.seq_len,
         greatest(0, t.tok_idx - (h.tok_idx + 1))::BIGINT AS tok_distance
  FROM ments h JOIN ments t
    ON h.doc_id = t.doc_id AND h.tok_idx < t.tok_idx
), filtered AS (
  SELECT * FROM pairs WHERE tok_distance <= 12
), req AS (
  SELECT *, head_tok_start AS rs, (tail_tok_start + 1) AS re_,
         ((tail_tok_start + 1) - head_tok_start) > {RE_WIN_TOKENS} AS skipped,
         least(seq_len, {RE_WIN_TOKENS}) AS size
  FROM filtered
), win0 AS (
  SELECT *, floor((rs + re_) / 2.0 - size / 2.0)::BIGINT AS raw_start
  FROM req
), win1 AS (
  SELECT *, raw_start - greatest(0, raw_start + size - seq_len) AS s1
  FROM win0
), win AS (
  SELECT *, s1 + greatest(0, -s1) AS ws FROM win1
)
SELECT doc_id, head_tok_start, tail_tok_start, tok_distance, skipped,
  CASE WHEN NOT skipped THEN ws END AS win_start,
  CASE WHEN NOT skipped THEN ws + size END AS win_end,
  CASE WHEN NOT skipped THEN head_tok_start - ws END AS new_head_start,
  CASE WHEN NOT skipped THEN tail_tok_start - ws END AS new_tail_start
FROM win
"""


RE_GATHER_TOKENS = 8  # mpa = 8/2 - 1 = 3 tokens per argument frame


def q_kg_re_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discontinuous-text gather for far-apart candidates (the ones the
    window path must skip): per-argument frames, merge-or-glue segments,
    arg offsets shifted into the gathered sequence."""
    from .operators.re_encoding import with_discontinuous_frames

    pairs = _token_pairs_df(spark, sf_dir).where(
        (F.col("tok_distance") > 12) & (F.col("tok_distance") <= 40)
    )
    out = with_discontinuous_frames(pairs, RE_GATHER_TOKENS, glue_len=1)
    return out.select(
        "doc_id",
        "head_tok_start",
        "tail_tok_start",
        "f1_start",
        "f1_end",
        "f2_start",
        "f2_end",
        "gathered_len",
        "new_a_start",
        "new_b_start",
    )


RE_GATHER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text,' ')) AS surface,
         (generate_subscripts(string_split(text,' '), 1) - 1)::BIGINT AS tok_idx,
         len(string_split(text,' '))::BIGINT AS seq_len
  FROM documents
), ments AS (
  SELECT doc_id, tok_idx, seq_len FROM toks
  WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), pairs AS (
  SELECT h.doc_id, h.tok_idx AS head_tok_start, t.tok_idx AS tail_tok_start,
         h.seq_len,
         greatest(0, t.tok_idx - (h.tok_idx + 1))::BIGINT AS tok_distance
  FROM ments h JOIN ments t
    ON h.doc_id = t.doc_id AND h.tok_idx < t.tok_idx
), filtered AS (
  -- args are single tokens: a = head (earlier), b = tail; mpa = 3
  SELECT doc_id, head_tok_start, tail_tok_start, seq_len
  FROM pairs WHERE tok_distance > 12 AND tok_distance <= 40
), f1 AS (
  SELECT *,
    CASE WHEN seq_len <= 3 THEN 0 ELSE
      CASE WHEN greatest(((2*head_tok_start+1)//2) - 1, 0) + 3 > seq_len
           THEN greatest(seq_len - 3, 0)
           ELSE greatest(((2*head_tok_start+1)//2) - 1, 0) END END AS f1s
  FROM filtered
), f2 AS (
  SELECT *,
    CASE WHEN seq_len <= 3 THEN seq_len ELSE least(f1s + 3, seq_len) END AS f1e,
    CASE WHEN seq_len <= 3 THEN 0 ELSE
      CASE WHEN greatest(((2*tail_tok_start+1)//2) - 1, 0) + 3 > seq_len
           THEN greatest(seq_len - 3, 0)
           ELSE greatest(((2*tail_tok_start+1)//2) - 1, 0) END END AS f2s
  FROM f1
), f3 AS (
  SELECT *,
    CASE WHEN seq_len <= 3 THEN seq_len ELSE least(f2s + 3, seq_len) END AS f2e,
    (f2s <= (CASE WHEN seq_len <= 3 THEN seq_len ELSE least(f1s + 3, seq_len) END))
      AS merged
  FROM f2
)
SELECT doc_id, head_tok_start, tail_tok_start,
  f1s AS f1_start,
  CASE WHEN merged THEN greatest(f1e, f2e) ELSE f1e END AS f1_end,
  CASE WHEN NOT merged THEN f2s END AS f2_start,
  CASE WHEN NOT merged THEN f2e END AS f2_end,
  CASE WHEN merged THEN greatest(f1e, f2e) - f1s
       ELSE (f1e - f1s) + 1 + (f2e - f2s) END AS gathered_len,
  head_tok_start - f1s AS new_a_start,
  CASE WHEN merged THEN tail_tok_start - f1s
       ELSE tail_tok_start - f1s - (f2s - f1e) + 1 END AS new_b_start
FROM f3
"""


# ------------------------------------------------------------- coref pairs

COREF_DOC_MOD = 17  # sample 1/17 of documents: pair volume is quadratic per
# block, and the oracle compare materializes every pair


def q_kg_coref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document coref candidates: same-surface mentions across
    different docs, each side's context = a centered window around the
    span (window_around_slice arithmetic, JVM-side), scored by context
    shingle Jaccard. Blocked self-join — never a cross join."""
    from .operators.coref import coref_text_pairs

    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % COREF_DOC_MOD == 0
    )
    m = mentions_df(spark, sf_dir).where(
        F.col("doc_id") % COREF_DOC_MOD == 0
    )
    return coref_text_pairs(
        docs, m, max_window=32, shingle_k=3, threshold=0.5
    )


COREF_PAIRS_ORACLE = f"""
WITH docs AS (
  SELECT doc_id::BIGINT AS doc_id, text, length(text)::BIGINT AS len
  FROM documents WHERE doc_id % {COREF_DOC_MOD} = 0
), toks AS (
  SELECT doc_id, text, len,
         unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM docs
), pos AS (
  SELECT doc_id, text, len, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, text, len, surface, start,
         (start + length(surface))::BIGINT AS "end"
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), firsts AS (
  SELECT doc_id, text, len, surface AS block, start, "end"
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id, surface ORDER BY start, "end") AS rn
    FROM mentions
  ) WHERE rn = 1
), windowed AS (
  SELECT doc_id, block, start,
         least(len, 32) AS size,
         floor((start + "end") / 2.0 - least(len, 32) / 2.0)::BIGINT AS raw_start,
         len, text
  FROM firsts
), shifted AS (
  SELECT doc_id, block, start, size, len, text,
         raw_start - greatest(0, raw_start + size - len) AS s1
  FROM windowed
), ctx AS (
  SELECT doc_id, block, start,
         substr(text, (s1 + greatest(0, -s1) + 1)::INT, size::INT) AS win
  FROM shifted
), sh AS (
  SELECT doc_id, block, start,
         list_distinct(list_transform(
           generate_series(1, length(win) - 2),
           i -> substr(win, i, 3))) AS ctx_sh
  FROM ctx
)
SELECT a.block, a.doc_id, a.start,
       b.doc_id AS doc_id_pair, b.start AS start_pair,
       round(len(list_intersect(a.ctx_sh, b.ctx_sh))::DOUBLE
             / (len(a.ctx_sh) + len(b.ctx_sh)
                - len(list_intersect(a.ctx_sh, b.ctx_sh))), 6) AS score,
       (len(list_intersect(a.ctx_sh, b.ctx_sh))::DOUBLE
        / (len(a.ctx_sh) + len(b.ctx_sh)
           - len(list_intersect(a.ctx_sh, b.ctx_sh))) >= 0.5) AS is_similar
FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
"""


# --------------------------- coref scored through the pooler/model seam

COREF_POOLER_CTX = 2  # tokens of context widening each side of the span
COREF_POOLER_THRESHOLD = 0.9


def q_kg_coref_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-pair similarity coref through the pooler/model seam (reference
    SequencePairSimilarityModelWithPooler,
    models/sequence_classification_with_pooler.py:290-360, exercised by
    tests/models/test_sequence_pair_similarity_model_with_pooler.py): both
    sides' per-token hidden states are pooled over the mention span
    (SpanMaxPooler / mention_pooling, the model's default) and the
    classifier head is cosine similarity of the two pooled vectors with a
    threshold decision — here over md5-mock states with fixed-order
    arithmetic so every score has a DuckDB twin. Same blocked pairing as
    kg_coref_pairs; this is the `scorer="pooler"` alternative to its
    shingle-Jaccard head."""
    from .operators.coref import coref_pairs_pooler_scored
    from .operators.re_encoding import token_mentions
    from .plans.skew import ensure_parallelism

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).where(
        F.col("doc_id") % COREF_DOC_MOD == 0
    )
    m = token_mentions(docs, list(GAZETTEER)).select(
        "doc_id",
        F.col("tok_idx").alias("tok_start"),
        (F.col("tok_idx") + 1).alias("tok_end"),
        F.col("surface").alias("block"),
    )
    return coref_pairs_pooler_scored(
        docs,
        m,
        context_tokens=COREF_POOLER_CTX,
        threshold=COREF_POOLER_THRESHOLD,
    )


COREF_SCORED_ORACLE = f"""
WITH docs AS (
  SELECT doc_id::BIGINT AS doc_id,
    len(string_split(text,' '))::BIGINT AS n,
    list_transform(string_split(text,' '), t -> [
      ('0x' || substr(md5(t), 1, 8))::BIGINT % 1000,
      ('0x' || substr(md5(t), 9, 8))::BIGINT % 1000,
      ('0x' || substr(md5(t), 17, 8))::BIGINT % 1000,
      ('0x' || substr(md5(t), 25, 8))::BIGINT % 1000
    ]) AS vs
  FROM documents WHERE doc_id % {COREF_DOC_MOD} = 0
), toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text,' ')) AS surface,
         (generate_subscripts(string_split(text,' '), 1) - 1)::BIGINT AS tok_idx
  FROM documents WHERE doc_id % {COREF_DOC_MOD} = 0
), ments AS (
  -- first mention per (doc, surface): the pair builder's dedup
  SELECT doc_id, surface AS block, min(tok_idx) AS tok_start
  FROM toks WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
  GROUP BY doc_id, surface
), pooled AS (
  SELECT m.doc_id, m.block, m.tok_start,
    list_reduce(
      d.vs[(greatest(m.tok_start - {COREF_POOLER_CTX}, 0) + 1)::BIGINT
           : (least(m.tok_start + 1 + {COREF_POOLER_CTX}, d.n))::BIGINT],
      (acc, v) -> [greatest(acc[1], v[1]), greatest(acc[2], v[2]),
                   greatest(acc[3], v[3]), greatest(acc[4], v[4])]
    ) AS p
  FROM ments m JOIN docs d USING (doc_id)
), pairs AS (
  SELECT a.block, a.doc_id, a.tok_start,
         b.doc_id AS doc_id_pair, b.tok_start AS tok_start_pair,
         (a.p[1]*b.p[1] + a.p[2]*b.p[2] + a.p[3]*b.p[3] + a.p[4]*b.p[4])
           AS dot,
         (a.p[1]*a.p[1] + a.p[2]*a.p[2] + a.p[3]*a.p[3] + a.p[4]*a.p[4])
           AS na,
         (b.p[1]*b.p[1] + b.p[2]*b.p[2] + b.p[3]*b.p[3] + b.p[4]*b.p[4])
           AS nb
  FROM pooled a JOIN pooled b
    ON a.block = b.block AND a.doc_id < b.doc_id
), scored AS (
  SELECT block, doc_id, tok_start, doc_id_pair, tok_start_pair,
         CASE WHEN na = 0 OR nb = 0 THEN 0.0
              ELSE round(dot / (sqrt(na) * sqrt(nb)), 6) END AS score
  FROM pairs
)
SELECT block, doc_id, tok_start, doc_id_pair, tok_start_pair, score,
       score >= {COREF_POOLER_THRESHOLD} AS is_similar
FROM scored
"""


# ------------------------------------------------------- pointer-net codec

POINTER_VOCAB = None  # built lazily (import cost) in q_kg_pointer_roundtrip


def _pointer_vocab():
    global POINTER_VOCAB
    if POINTER_VOCAB is None:
        from .functions.pointer_codec import PointerVocab

        POINTER_VOCAB = PointerVocab(
            span_labels=tuple(sorted(set(GAZETTEER.values()))),
            relation_labels=tuple(sorted(set(RELATION_RULES.values()))),
        )
    return POINTER_VOCAB


def _full_relations_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relations with both argument spans fully materialized (start, end,
    label per side) — the pointer codec's input shape."""
    rels = _relations_df(spark, sf_dir, MAX_REL_DISTANCE)
    return rels.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("head_start").cast("long"),
        (F.col("head_start") + F.length("head_surface"))
        .cast("long")
        .alias("head_end"),
        _gaz_label_col(F.col("head_surface")).alias("head_label"),
        F.col("tail_start").cast("long"),
        (F.col("tail_start") + F.length("tail_surface"))
        .cast("long")
        .alias("tail_end"),
        _gaz_label_col(F.col("tail_surface")).alias("tail_label"),
        "label",
    )


def q_kg_pointer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-network codec round-trip: relations are linearized into
    per-document target-id sequences JVM-side (pointer_target_ids: label
    CASE map + array arithmetic + one groupBy), then parsed back through
    the resumable Python codec (mapInPandas). Lossless on well-formed
    relations, so the decoded set equals the input relation set — which is
    what the SQL oracle computes directly."""
    from .operators.pointer_ops import parse_pointer_targets, pointer_target_ids

    vocab = _pointer_vocab()
    full = _full_relations_df(spark, sf_dir)
    targets = pointer_target_ids(full, vocab, mode="tail_head_label")
    parsed = parse_pointer_targets(targets, vocab, mode="tail_head_label")
    return parsed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("head_start").cast("long"),
        F.col("head_end").cast("long"),
        "head_label",
        F.col("tail_start").cast("long"),
        F.col("tail_end").cast("long"),
        "tail_label",
        "label",
    )


POINTER_ROUNDTRIP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), mentions AS (
  SELECT doc_id, surface, start, {_gaz_case_sql()} AS label
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), pairs AS (
  SELECT h.doc_id,
         h.start AS head_start,
         (h.start + length(h.surface))::BIGINT AS head_end,
         h.label AS head_label,
         t.start AS tail_start,
         (t.start + length(t.surface))::BIGINT AS tail_end,
         t.label AS tail_label
  FROM mentions h JOIN mentions t
    ON h.doc_id = t.doc_id
   AND NOT (h.start = t.start AND h.label = t.label)
   AND h.start + length(h.surface) <= t.start
   AND t.start - (h.start + length(h.surface)) <= {MAX_REL_DISTANCE}
)
SELECT doc_id, head_start, head_end, head_label,
       tail_start, tail_end, tail_label,
       {_rule_case_sql()} AS label
FROM pairs
WHERE {_rule_case_sql()} IS NOT NULL
"""


# --------------------------------------------- reversed-relation augment


def q_kg_reversed_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reversed-relation augmentation (reference
    re_text_classification_with_indices.py:544-620): every relation also
    yields (tail, head) with label+'_reversed'; symmetric labels keep the
    label; reversed candidates whose ARGUMENT pair already exists are
    skipped (left-anti join, argument-keyed like arguments2relation). The
    input pre-seeds reversed duplicates of 'op:uses_algo' pairs so the
    skip branch is exercised on real rows."""
    from .operators.relations import add_reversed_relations

    rels = (
        _relations_df(spark, sf_dir, MAX_REL_DISTANCE)
        .select(
            "doc_id",
            "head_start",
            (F.col("head_start") + F.length("head_surface")).alias("head_end"),
            "tail_start",
            (F.col("tail_start") + F.length("tail_surface")).alias("tail_end"),
            "label",
        )
        # referenced by the pre-seed, the reversal, AND the anti-join side:
        # pin the mention->pair lineage once instead of recomputing it 3x
        .localCheckpoint(eager=False)
    )
    pre_reversed = rels.where(F.col("label") == "op:uses_algo").select(
        "doc_id",
        F.col("tail_start").alias("head_start"),
        F.col("tail_end").alias("head_end"),
        F.col("head_start").alias("tail_start"),
        F.col("head_end").alias("tail_end"),
        "label",
    )
    inp = rels.unionByName(pre_reversed)
    return add_reversed_relations(
        inp, symmetric_relations=["actor:uses_engine"]
    )


REVERSED_RELATIONS_ORACLE = f"""
WITH rels AS (
  SELECT doc_id, head_start,
         head_start + length(head_surface) AS head_end,
         tail_start,
         tail_start + length(tail_surface) AS tail_end,
         label
  FROM ({_relations_oracle(MAX_REL_DISTANCE)})
), input AS (
  SELECT * FROM rels
  UNION ALL
  SELECT doc_id, tail_start, tail_end, head_start, head_end, label
  FROM rels WHERE label = 'op:uses_algo'
), rev AS (
  SELECT doc_id,
    tail_start AS head_start, tail_end AS head_end,
    head_start AS tail_start, head_end AS tail_end,
    CASE WHEN label = 'actor:uses_engine' THEN label
         ELSE label || '_reversed' END AS label
  FROM input
), existing AS (
  SELECT DISTINCT doc_id, head_start, head_end, tail_start, tail_end
  FROM input
)
SELECT doc_id, head_start, head_end, tail_start, tail_end, label FROM input
UNION ALL
SELECT r.doc_id, r.head_start, r.head_end, r.tail_start, r.tail_end, r.label
FROM rev r LEFT JOIN existing e
  ON e.doc_id = r.doc_id AND e.head_start = r.head_start
 AND e.head_end = r.head_end AND e.tail_start = r.tail_start
 AND e.tail_end = r.tail_end
WHERE e.doc_id IS NULL
"""


# ----------------------------------------------------- argument poolers

MARKERS_MAX_DIST = 4


def q_kg_pooler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument poolers over per-token hidden states (reference
    models/components/pooler.py: pool_cls :16, AtIndexPooler/START_TOKENS
    :20-73, SpanMaxPooler/MENTION_POOLING :100-171, SpanMeanPooler
    :175-248): per RE candidate pair, the cls state, the concat of the
    argument-start states, and max/mean pooling over a 2-token head span —
    all JVM array folds over md5-mock states, vectors serialized to
    '|'-joined strings for engine-exact comparison."""
    from .functions.pooler import (
        pool_at_index_col,
        pool_cls_col,
        pool_span_max_col,
        pool_span_mean_col,
        token_state_vecs,
    )

    from .plans.skew import ensure_parallelism

    from .operators.re_encoding import token_mentions

    # Pool per MENTION, pair afterwards (guide-§8 shape: decide/compute on
    # the small per-mention table, attach to the quadratic pair stream as
    # short strings): the previous per-PAIR pooling evaluated every fold on
    # ~3.5x more rows and shipped each document's whole vecs array into the
    # pair join. Equivalences: start_concat = concat_ws('|', at(h), at(t))
    # is byte-identical to pool_at_index_col(v, h, t); head pooling depends
    # only on (doc, head, seq_len).
    docs0 = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    vdocs = docs0.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_state_vecs(F.split("text", " ")).alias("vecs"),
        F.size(F.split("text", " ")).cast("long").alias("_n"),
    )
    v = F.col("vecs")
    idx = F.col("tok_idx")
    mlen = F.least(F.lit(2).cast("long"), F.col("_n") - idx)
    m = (
        token_mentions(docs0, list(GAZETTEER))
        .select("doc_id", "tok_idx")
        .join(vdocs, "doc_id")
        .select(
            "doc_id",
            "tok_idx",
            pool_cls_col(v).alias("_cls"),
            pool_at_index_col(v, idx).alias("_at"),
            pool_span_max_col(v, idx, mlen).alias("_max"),
            pool_span_mean_col(v, idx, mlen).alias("_mean"),
        )
        .localCheckpoint(eager=False)
    )
    pairs = _token_pairs_df(spark, sf_dir).where(
        F.col("tok_distance") <= MARKERS_MAX_DIST
    )
    h = m.select(
        "doc_id",
        F.col("tok_idx").alias("head_tok_start"),
        F.col("_cls").alias("cls_state"),
        F.col("_at").alias("_h_at"),
        F.col("_max").alias("head_max"),
        F.col("_mean").alias("head_mean"),
    )
    t = m.select(
        "doc_id",
        F.col("tok_idx").alias("tail_tok_start"),
        F.col("_at").alias("_t_at"),
    )
    return (
        pairs.join(h, ["doc_id", "head_tok_start"])
        .join(t, ["doc_id", "tail_tok_start"])
        .select(
            "doc_id",
            "head_tok_start",
            "tail_tok_start",
            "cls_state",
            F.concat_ws("|", F.col("_h_at"), F.col("_t_at")).alias(
                "start_concat"
            ),
            "head_max",
            "head_mean",
        )
    )


POOLER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text,' ')) AS surface,
         (generate_subscripts(string_split(text,' '), 1) - 1)::BIGINT AS tok_idx
  FROM documents
), docs AS (
  SELECT doc_id::BIGINT AS doc_id,
    len(string_split(text,' '))::BIGINT AS n,
    list_transform(string_split(text,' '), t -> [
      ('0x' || substr(md5(t), 1, 8))::BIGINT % 1000,
      ('0x' || substr(md5(t), 9, 8))::BIGINT % 1000,
      ('0x' || substr(md5(t), 17, 8))::BIGINT % 1000,
      ('0x' || substr(md5(t), 25, 8))::BIGINT % 1000
    ]) AS vs
  FROM documents
), ments AS (
  SELECT doc_id, tok_idx FROM toks
  WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), pairs AS (
  SELECT h.doc_id, h.tok_idx AS h_idx, t.tok_idx AS t_idx
  FROM ments h JOIN ments t
    ON h.doc_id = t.doc_id AND h.tok_idx < t.tok_idx
  WHERE greatest(0, t.tok_idx - (h.tok_idx + 1)) <= {MARKERS_MAX_DIST}
), joined AS (
  SELECT p.doc_id, p.h_idx, p.t_idx, d.vs,
         d.vs[p.h_idx + 1] AS hv1,
         CASE WHEN p.h_idx + 2 <= d.n THEN d.vs[p.h_idx + 2] END AS hv2
  FROM pairs p JOIN docs d USING (doc_id)
)
SELECT doc_id, h_idx AS head_tok_start, t_idx AS tail_tok_start,
  array_to_string(list_transform(vs[1], x -> x::VARCHAR), '|') AS cls_state,
  array_to_string(list_transform(vs[h_idx + 1], x -> x::VARCHAR), '|')
    || '|' ||
  array_to_string(list_transform(vs[t_idx + 1], x -> x::VARCHAR), '|')
    AS start_concat,
  array_to_string(list_transform([1,2,3,4], d ->
    (CASE WHEN hv2 IS NULL THEN hv1[d]
          ELSE greatest(hv1[d], hv2[d]) END)::VARCHAR), '|') AS head_max,
  array_to_string(list_transform([1,2,3,4], d ->
    (CASE WHEN hv2 IS NULL THEN round(hv1[d] / 1.0, 6)
          ELSE round((hv1[d] + hv2[d]) / 2.0, 6) END)::VARCHAR), '|')
    AS head_mean
FROM joined
"""


# --------------------------------------------------- CRF Viterbi decode


def q_crf_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRF forward pass (reference
    models/token_classification_with_seq2seq_encoder_and_crf.py): max-sum
    Viterbi over md5-mock emissions + BIO-constrained transitions, as a
    pure JVM array fold (functions/crf.viterbi_score_col) — per-document
    best-path score and argmax last tag. The full path decode (same DP +
    backtracking) runs inside the crf_ner model and is equality-tested
    against brute-force enumeration in tests/test_crf.py."""
    from .functions.crf import viterbi_score_col
    from .plans.skew import ensure_parallelism

    # md5-per-token DP fold is compute-heavy: spread the single-row-group
    # local scan across cores (no-op on a real cluster)
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    v = viterbi_score_col(toks)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        v["viterbi_score"].alias("viterbi_score"),
        v["best_last_tag"].alias("best_last_tag"),
    )


CRF_VITERBI_ORACLE = """
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(text, ' ') AS toks
  FROM documents
), vecs AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
    list_transform(toks, t -> [
      ('0x' || substr(md5(t), 1, 8))::BIGINT % 1000,
      ('0x' || substr(md5(t), 9, 8))::BIGINT % 1000,
      ('0x' || substr(md5(t), 17, 8))::BIGINT % 1000
    ]) AS vs
  FROM base
), prepared AS (
  -- START = [0, 0, -1000000]: a sequence cannot open with I-ENT
  SELECT doc_id, n_tokens,
    [vs[1][1], vs[1][2], vs[1][3] - 1000000] AS v0,
    vs[2:len(vs)] AS rest
  FROM vecs
), fold AS (
  -- new[s] = max over s' of acc[s'] + TRANS[s'][s], then + emission[s]
  -- TRANS rows (from O, B-ENT, I-ENT): O->[10,5,-1e6], B->[5,3,8], I->[5,3,8]
  SELECT doc_id, n_tokens,
    CASE WHEN len(rest) = 0 THEN v0
    ELSE list_reduce(list_prepend(v0, rest), (acc, v) -> [
      greatest(acc[1] + 10, acc[2] + 5, acc[3] + 5) + v[1],
      greatest(acc[1] + 5,  acc[2] + 3, acc[3] + 3) + v[2],
      greatest(acc[1] - 1000000, acc[2] + 8, acc[3] + 8) + v[3]
    ]) END AS fin
  FROM prepared
)
SELECT doc_id, n_tokens,
  list_aggregate(fin, 'max')::BIGINT AS viterbi_score,
  list_position(fin, list_aggregate(fin, 'max'))::BIGINT AS best_last_tag
FROM fold
"""


# ----------------------------------------------- text-to-text taskmodule

T2T_LEAD_K = 8


def q_text2text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-to-text taskmodule analog (reference taskmodules/text_to_text.py:
    encode_input tokenizes the source, encode_target the summary target
    :311-376, unbatch_and_untokenize decodes generated text :50-59, metric
    hookup is ROUGE :96): target = deterministic lead-K extractive mock
    standing in for the generator, plus a ROUGE-1-style distinct-unigram
    recall of the target against the document remainder — all JVM array
    ops, no UDF."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    target = F.slice(toks, 1, T2T_LEAD_K)
    rest = F.when(
        n > T2T_LEAD_K, F.slice(toks, T2T_LEAD_K + 1, n - T2T_LEAD_K)
    ).otherwise(F.array().cast("array<string>"))
    tgt_d = F.array_distinct(target)
    overlap = F.size(F.array_intersect(tgt_d, F.array_distinct(rest)))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n.cast("long").alias("n_src_tokens"),
        F.concat_ws(" ", target).alias("target_text"),
        F.least(n, F.lit(T2T_LEAD_K)).cast("long").alias("n_tgt_tokens"),
        F.size(tgt_d).cast("long").alias("n_tgt_distinct"),
        overlap.cast("long").alias("overlap"),
        F.round(overlap / F.size(tgt_d), 6).alias("rouge1_recallish"),
    )


TEXT2TEXT_ORACLE = f"""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(text, ' ') AS toks
  FROM documents
), parts AS (
  SELECT doc_id, len(toks)::BIGINT AS n_src_tokens,
    toks[1:{T2T_LEAD_K}] AS target,
    CASE WHEN len(toks) > {T2T_LEAD_K}
         THEN toks[{T2T_LEAD_K + 1}:len(toks)]
         ELSE [] END AS rest
  FROM base
)
SELECT doc_id, n_src_tokens,
  array_to_string(target, ' ') AS target_text,
  least(n_src_tokens, {T2T_LEAD_K})::BIGINT AS n_tgt_tokens,
  len(list_distinct(target))::BIGINT AS n_tgt_distinct,
  len(list_intersect(list_distinct(target), list_distinct(rest)))::BIGINT
    AS overlap,
  round(len(list_intersect(list_distinct(target), list_distinct(rest)))
        / len(list_distinct(target))::DOUBLE, 6) AS rouge1_recallish
FROM parts
"""


# ------------------------------- guided text-to-text (generative QA shape)


def q_text2text_guided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guided text-to-text taskmodule (reference text_to_text.py:75-135
    guidance args; encode_input fan-out + source_text prepend :311-341;
    first-matching-target selection :216-241; decode attaches the guidance
    annotation :262-283 — test_text2text_with_guidance.py): questions are
    synthesized per gazetteer surface in the document, answers are the
    4 tokens after the surface's first occurrence (none for OP-labeled
    surfaces — the reference's zero-target ValueError path, observable as
    has_target=false), and ENGINE-labeled surfaces get a SECOND candidate
    answer so first-by-order selection is exercised for real."""
    from .operators.re_encoding import token_mentions
    from .operators.text2text import guided_text2text

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    occ = (
        token_mentions(docs, list(GAZETTEER))
        .groupBy("doc_id", "surface")
        .agg(F.min("tok_idx").alias("occ"))
    )
    question = F.concat_ws(" ", F.lit("what is"), F.col("surface"), F.lit("?"))
    guidance = occ.select("doc_id", question.alias("guidance_text"))
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    occ_t = occ.join(toks, "doc_id")
    label = _gaz_label_col(F.col("surface"))
    answers = occ_t.where(label != "OP").select(
        "doc_id",
        question.alias("guidance_text"),
        F.col("occ").alias("target_idx"),
        F.concat_ws(
            " ", F.slice("toks", (F.col("occ") + 2).cast("int"), 4)
        ).alias("target_text"),
    )
    alts = occ_t.where(label == "ENGINE").select(
        "doc_id",
        question.alias("guidance_text"),
        F.lit(1).cast("long").alias("target_idx"),
        F.concat(
            F.lit("alt: "), F.concat_ws(" ", F.slice("toks", 1, 2))
        ).alias("target_text"),
    )
    return guided_text2text(docs, guidance, answers.unionByName(alts))


TEXT2TEXT_GUIDED_ORACLE = f"""
WITH docs AS (
  SELECT doc_id::BIGINT AS doc_id, text, string_split(text, ' ') AS toks
  FROM documents
), tk AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text, ' ')) AS surface,
         (generate_subscripts(string_split(text, ' '), 1) - 1)::BIGINT
           AS tok_idx
  FROM documents
), quest AS (
  SELECT doc_id, surface, min(tok_idx) AS occ,
         'what is ' || surface || ' ?' AS guidance_text
  FROM tk WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
  GROUP BY doc_id, surface
), enc AS (
  SELECT q.doc_id, q.guidance_text,
    array_to_string(
      (string_split(q.guidance_text || ' ' || d.text, ' '))[1:8], ' ')
      AS input_lead,
    len(string_split(q.guidance_text || ' ' || d.text, ' '))::BIGINT
      AS n_src_tokens
  FROM quest q JOIN docs d USING (doc_id)
), answers AS (
  SELECT q.doc_id, q.guidance_text, q.occ AS target_idx,
    -- coalesce: array_to_string([]) is NULL in DuckDB, '' in concat_ws
    coalesce(array_to_string(
      d.toks[(q.occ + 2)::BIGINT : (q.occ + 5)::BIGINT], ' '), '')
      AS target_text
  FROM quest q JOIN docs d USING (doc_id)
  WHERE ({_gaz_case_sql().replace("CASE surface", "CASE q.surface")}) != 'OP'
), alts AS (
  SELECT q.doc_id, q.guidance_text, 1::BIGINT AS target_idx,
    'alt: ' || array_to_string(d.toks[1:2], ' ') AS target_text
  FROM quest q JOIN docs d USING (doc_id)
  WHERE ({_gaz_case_sql().replace("CASE surface", "CASE q.surface")})
        = 'ENGINE'
), targets AS (
  SELECT * FROM answers UNION ALL SELECT * FROM alts
), tsel AS (
  SELECT doc_id, guidance_text, target_text, n_targets FROM (
    SELECT doc_id, guidance_text, target_text,
      count(*) OVER (PARTITION BY doc_id, guidance_text)::BIGINT
        AS n_targets,
      row_number() OVER (PARTITION BY doc_id, guidance_text
                         ORDER BY target_idx, target_text) AS rn
    FROM targets
  ) WHERE rn = 1
)
SELECT e.doc_id, e.guidance_text, e.input_lead, e.n_src_tokens,
  coalesce(t.n_targets, 0)::BIGINT AS n_targets,
  t.n_targets IS NOT NULL AS has_target,
  t.target_text,
  CASE WHEN t.n_targets IS NOT NULL THEN
    array_to_string((string_split(t.target_text, ' '))[1:4], ' ')
  END AS gen_text,
  CASE WHEN t.n_targets IS NOT NULL THEN e.guidance_text
  END AS attached_guidance
FROM enc e LEFT JOIN tsel t USING (doc_id, guidance_text)
"""


# ------------------------------------------- marker insertion (RE encode)


def q_kg_re_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered marker insertion around RE candidate arguments ([H]/[/H]
    before/after the head span, [T]/[/T] around the tail — reference
    re_text_classification_with_indices.py marker construction): the
    actual insert_pair_markers_col flatten/transform expression over the
    document token array, joined to a string for comparison."""
    from .operators.re_encoding import insert_pair_markers_disjoint_col

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split("text", " ").alias("tokens"),
    )
    pairs = _token_pairs_df(spark, sf_dir).where(
        F.col("tok_distance") <= MARKERS_MAX_DIST
    )
    marked = insert_pair_markers_disjoint_col(
        F.col("tokens"),
        F.col("head_tok_start"),
        F.col("head_tok_end"),
        F.col("tail_tok_start"),
        F.col("tail_tok_end"),
    )
    return pairs.join(docs, "doc_id").select(
        "doc_id",
        "head_tok_start",
        "tail_tok_start",
        F.concat_ws(" ", marked).alias("marked"),
    )


RE_MARKERS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text,' ')) AS surface,
         (generate_subscripts(string_split(text,' '), 1) - 1)::BIGINT AS tok_idx
  FROM documents
), ments AS (
  SELECT doc_id, tok_idx FROM toks
  WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), pairs AS (
  SELECT h.doc_id, h.tok_idx AS head_tok_start, t.tok_idx AS tail_tok_start
  FROM ments h JOIN ments t
    ON h.doc_id = t.doc_id AND h.tok_idx < t.tok_idx
  WHERE greatest(0, t.tok_idx - (h.tok_idx + 1)) <= {MARKERS_MAX_DIST}
), dec AS (
  SELECT p.doc_id, p.head_tok_start, p.tail_tok_start, tk.tok_idx,
    CASE WHEN tk.tok_idx = p.head_tok_start
           THEN '[H] ' || tk.surface || ' [/H]'
         WHEN tk.tok_idx = p.tail_tok_start
           THEN '[T] ' || tk.surface || ' [/T]'
         ELSE tk.surface END AS piece
  FROM pairs p JOIN toks tk ON tk.doc_id = p.doc_id
)
SELECT doc_id, head_tok_start, tail_tok_start,
       string_agg(piece, ' ' ORDER BY tok_idx) AS marked
FROM dec GROUP BY doc_id, head_tok_start, tail_tok_start
"""


# ------------------------------------ special-token mask + find_sublist


def q_kg_special_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-style sequence assembly: per document build
    [CLS] + (token if in gazetteer else [UNK]) + [SEP] inside the Arrow
    batch, then run the REAL get_special_token_mask (unk EXCLUDED from the
    special set — an unk is a real input token, reference
    utils/span.py:263-269) and find_sublist (first-occurrence scan,
    re_text_classification_with_indices.py:119-132) over it. Emits
    closed-form-checkable per-doc scalars:
      n_special      — specials counted by the mask (CLS+SEP only),
      n_unk          — unk tokens (NOT special),
      first_gaz_pos  — find_sublist(seq, [first gazetteer surface]),
      unk_then_first — find_sublist(seq, ['[UNK]', first gazetteer
                       surface]), -1 when that bigram never occurs."""
    from typing import Iterator

    import pandas as pd

    from .functions.span import find_sublist, get_special_token_mask

    gaz = frozenset(GAZETTEER)
    vocab = {w: 10 + i for i, w in enumerate(sorted(gaz))}

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                tokens = (text or "").split(" ")
                seq = (
                    ["[CLS]"]
                    + [t if t in gaz else "[UNK]" for t in tokens]
                    + ["[SEP]"]
                )
                ids = [1] + [vocab.get(t, 3) for t in tokens] + [2]
                mask = get_special_token_mask(ids, {1, 2, 3}, unk_id=3)
                firsts = [t for t in tokens if t in gaz]
                g1 = firsts[0] if firsts else None
                rows.append(
                    (
                        doc_id,
                        len(tokens),
                        sum(mask),
                        sum(1 for i in ids if i == 3),
                        find_sublist(seq, [g1]) if g1 else -1,
                        find_sublist(seq, ["[UNK]", g1]) if g1 else -1,
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "n_tokens",
                "n_special",
                "n_unk",
                "first_gaz_pos",
                "unk_then_first",
            ],
        )

    from .plans.skew import ensure_parallelism

    docs = ensure_parallelism(
        read_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return docs.mapInPandas(
        assemble,
        schema=(
            "doc_id long, n_tokens long, n_special long, n_unk long, "
            "first_gaz_pos long, unk_then_first long"
        ),
    )


SPECIAL_TOKENS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text,' ')) AS surface,
         (generate_subscripts(string_split(text,' '), 1) - 1)::BIGINT AS tok_idx
  FROM documents
), flagged AS (
  SELECT doc_id, surface, tok_idx,
         surface IN ({",".join(f"'{w}'" for w in GAZETTEER)}) AS is_gaz,
         lag(surface) OVER (PARTITION BY doc_id ORDER BY tok_idx) AS prev
  FROM toks
), g1 AS (
  SELECT doc_id, min(tok_idx) AS g1_idx
  FROM flagged WHERE is_gaz GROUP BY doc_id
), g1s AS (
  SELECT f.doc_id, f.surface AS g1_surface
  FROM flagged f JOIN g1 ON f.doc_id = g1.doc_id AND f.tok_idx = g1.g1_idx
), agg AS (
  SELECT f.doc_id,
    count(*)::BIGINT AS n_tokens,
    2::BIGINT AS n_special,
    count(*) FILTER (NOT f.is_gaz)::BIGINT AS n_unk,
    -- find_sublist over [CLS]+mapped+[SEP]: seq position = tok_idx + 1;
    -- the first occurrence of g1_surface IS the first gazetteer hit
    coalesce(min(f.tok_idx + 1) FILTER (
      f.surface = s.g1_surface), -1)::BIGINT AS first_gaz_pos,
    -- '[UNK]' immediately before g1_surface: seq index of the unk
    coalesce(min(f.tok_idx) FILTER (
      f.surface = s.g1_surface AND f.prev IS NOT NULL
      AND f.prev NOT IN ({",".join(f"'{w}'" for w in GAZETTEER)})
    ), -1)::BIGINT AS unk_then_first
  FROM flagged f LEFT JOIN g1s s ON f.doc_id = s.doc_id
  GROUP BY f.doc_id
)
SELECT doc_id, n_tokens, n_special, n_unk,
  CASE WHEN first_gaz_pos IS NULL THEN -1 ELSE first_gaz_pos END
    AS first_gaz_pos,
  unk_then_first
FROM agg
"""


# --------------------------------------------- annotated-JSON source


def q_corpus_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotated-JSON corpus parse path (reference fixture format,
    tests/conftest.py:22-55): one fixture-shaped JSON document object is
    synthesized per document (entities = gazetteer mentions ordered by
    start, relations = adjacent-mention pairs carrying a rule label, as
    HEAD/TAIL INDICES into the entities array), serialized with to_json,
    then parsed back through the reader's from_json + element_at index
    resolution (sources/readers.py annotated_json_from_strings). Output =
    the resolved relation rows with sha-prefix mention ids, proving the
    index->entity resolution lands on the right spans."""
    from .sources.readers import annotated_json_from_strings

    m = mentions_df(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("start")
    idxed = m.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("start").cast("int").alias("start"),
        F.col("end").cast("int").alias("end"),
        "label",
        (F.row_number().over(w) - 1).alias("idx"),
    )
    ents = idxed.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("start", "end", "label"))
        ).alias("entities")
    )
    nxt = idxed.select(
        "doc_id",
        "idx",
        "label",
        F.lead("idx").over(w).alias("next_idx"),
        F.lead("label").over(w).alias("next_label"),
    )
    rels = (
        nxt.where(F.col("next_idx").isNotNull())
        .select(
            "doc_id",
            F.col("idx").alias("head"),
            F.col("next_idx").alias("tail"),
            _rule_label_col_from(
                F.col("label"), F.col("next_label")
            ).alias("label"),
        )
        .where(F.col("label").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("head", "tail", "label"))
            ).alias("relations")
        )
    )
    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    jsonified = (
        docs.join(ents, "doc_id")
        .join(rels, "doc_id", "left")
        .select(
            F.to_json(
                F.struct(
                    F.col("doc_id").cast("string").alias("id"),
                    F.col("text"),
                    F.array()
                    .cast("array<struct<start:int,end:int>>")
                    .alias("sentences"),
                    F.col("entities"),
                    F.coalesce(
                        F.col("relations"),
                        F.array().cast(
                            "array<struct<head:int,tail:int,label:string>>"
                        ),
                    ).alias("relations"),
                    F.create_map().cast("map<string,string>").alias("metadata"),
                )
            ).alias("json")
        )
    )
    _, _, relations = annotated_json_from_strings(jsonified)
    return relations.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "head_mention_id",
        "tail_mention_id",
        "label",
    )


CORPUS_JSON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS surface,
         generate_subscripts(string_split(text,' '), 1) AS ord
  FROM documents
), pos AS (
  SELECT doc_id::BIGINT AS doc_id, surface,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS start
  FROM toks
), ments AS (
  SELECT doc_id, start, start + length(surface) AS fin,
         {_gaz_case_sql()} AS label
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), pairs AS (
  SELECT doc_id, start, fin, label,
    lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS t_start,
    lead(fin) OVER (PARTITION BY doc_id ORDER BY start) AS t_fin,
    lead(label) OVER (PARTITION BY doc_id ORDER BY start) AS t_label
  FROM ments
)
SELECT doc_id,
  substr(sha256(concat_ws('|', doc_id::VARCHAR, start::VARCHAR,
                          fin::VARCHAR, label)), 1, 32) AS head_mention_id,
  substr(sha256(concat_ws('|', doc_id::VARCHAR, t_start::VARCHAR,
                          t_fin::VARCHAR, t_label)), 1, 32) AS tail_mention_id,
  {_rule_case_sql("label", "t_label")} AS label
FROM pairs
WHERE t_start IS NOT NULL
  AND {_rule_case_sql("label", "t_label")} IS NOT NULL
"""


# ---------------------------------------------- span-enumeration head

SPAN_ENUM_MAX_LEN = 4
SPAN_ENUM_THRESHOLD = 0.95


def q_kg_span_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-enumeration classification (reference
    transformer_span_classification.py:101-131): enumerate every token
    span of length 1..{max_len} per document inside the Arrow batch, score
    each against each class with the deterministic md5 mock head, and emit
    only spans clearing the threshold as MultiLabeledSpan rows — the dense
    O(n*L*C) enumeration never leaves the UDF."""
    from .operators.span_enum import enumerate_and_classify_spans

    docs = read_table(spark, sf_dir, "documents")
    return enumerate_and_classify_spans(
        docs,
        max_span_length=SPAN_ENUM_MAX_LEN,
        threshold=SPAN_ENUM_THRESHOLD,
    )


SPAN_ENUM_ORACLE = f"""
WITH docs AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(text, ' ') AS toks
  FROM documents
), lens AS (
  SELECT doc_id, toks, unnest(generate_series(1, {SPAN_ENUM_MAX_LEN}))::BIGINT AS l
  FROM docs
), starts AS (
  SELECT doc_id, toks, l,
         unnest(generate_series(0, len(toks)::BIGINT - l))::BIGINT AS s
  FROM lens WHERE len(toks) >= l
), surf AS (
  SELECT doc_id, s AS tok_start, s + l AS tok_end,
         array_to_string(toks[s+1:s+l], ' ') AS surface
  FROM starts
), scored AS (
  -- one md5 per surface; class i reads hex slice [8i, 8i+8)
  SELECT doc_id, tok_start, tok_end, surface, c.label,
    (('0x' || substr(md5(surface), 1 + 8 * c.ci, 8))::BIGINT % 10000)
      / 10000.0 AS score
  FROM surf CROSS JOIN (
    VALUES ('ENGINE', 0), ('OP', 1), ('ALGO', 2)
  ) c(label, ci)
)
SELECT doc_id, tok_start, tok_end, surface, label, round(score, 6) AS score
FROM scored WHERE score >= {SPAN_ENUM_THRESHOLD}
"""


# ------------------------------------------------ tokenize round-trip

TOKRT_WINDOW = 32
TOKRT_OVERLAP = 8
TOKRT_DOC_MOD = 3


def q_kg_tokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level tokenize_document round-trip (reference
    utils/document.py:150-267 + test_document_tokenize.py contract):
    window-tokenize documents (ONE tokenizer UDF pass), convert char-span
    annotations into every overlapping window via inward alignment
    (closed-form array-filter counts, no second UDF), round-trip back to
    char space, and keep missed annotations as null-coordinate rows.

    Annotation variants per gazetteer mention exercise every conversion
    path: exact (token-aligned, round-trip-exact), inner (+1 start, clips
    back to the token -> inexact), outer (pads into whitespace, clips back
    -> inexact), gap (whitespace-only -> MISSED in every window), multi
    (mention..next-mention, multi-token, round-trip-exact where it fits in
    one window, clipped where it straddles)."""
    from .operators.doc_tokenize import tokenize_documents_roundtrip

    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % TOKRT_DOC_MOD == 0)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "text",
            F.sha2("text", 256).alias("content_sha256"),
        )
    )
    m = mentions_df(spark, sf_dir).where(
        F.col("doc_id") % TOKRT_DOC_MOD == 0
    )
    w = W.partitionBy("doc_id").orderBy("start")
    base = m.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        F.lead(F.col("end")).over(w).cast("long").alias("next_end"),
    )
    variants = [
        ("exact", F.col("start"), F.col("end"), None),
        ("inner", F.col("start") + 1, F.col("end"), None),
        ("outer", F.col("start") - 1, F.col("end") + 1, F.col("start") > 0),
        ("gap", F.col("end"), F.col("end") + 1, None),
        (
            "multi",
            F.col("start"),
            F.col("next_end"),
            F.col("next_end").isNotNull(),
        ),
    ]
    anns = None
    for name, s, e, cond in variants:
        v = base if cond is None else base.where(cond)
        v = v.select(
            "doc_id",
            s.cast("long").alias("start"),
            e.cast("long").alias("end"),
            F.lit(name).alias("variant"),
        )
        anns = v if anns is None else anns.unionByName(v)
    out = tokenize_documents_roundtrip(docs, anns, TOKRT_WINDOW, TOKRT_OVERLAP)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "variant",
        "start",
        "end",
        F.col("window_idx").cast("long").alias("window_idx"),
        "tok_start",
        "tok_end",
        "rt_start",
        "rt_end",
        "exact",
        "missed",
    )


TOKENIZE_ROUNDTRIP_ORACLE = f"""
WITH docs AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % {TOKRT_DOC_MOD} = 0
), tok AS (
  SELECT doc_id, unnest(toks) AS surface,
         generate_subscripts(toks, 1) AS ord
  FROM docs
), pos AS (
  SELECT doc_id, surface, ord,
         (sum(length(surface)+1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1)::BIGINT AS cs
  FROM tok
), offs AS (
  SELECT doc_id,
         list(cs ORDER BY ord) AS starts_arr,
         list(cs + length(surface) ORDER BY ord) AS ends_arr,
         count(*)::BIGINT AS n_toks
  FROM pos GROUP BY doc_id
), ments AS (
  SELECT doc_id, cs AS start, cs + length(surface) AS fin,
         lead(cs + length(surface))
           OVER (PARTITION BY doc_id ORDER BY cs) AS next_end
  FROM pos WHERE surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), anns AS (
  SELECT doc_id, start::BIGINT AS start, fin::BIGINT AS fin,
         'exact' AS variant FROM ments
  UNION ALL SELECT doc_id, start + 1, fin, 'inner' FROM ments
  UNION ALL SELECT doc_id, start - 1, fin + 1, 'outer' FROM ments
    WHERE start > 0
  UNION ALL SELECT doc_id, fin, fin + 1, 'gap' FROM ments
  UNION ALL SELECT doc_id, start, next_end, 'multi' FROM ments
    WHERE next_end IS NOT NULL
), nw AS (
  SELECT doc_id, n_toks,
    CASE WHEN n_toks <= {TOKRT_WINDOW} THEN 1
         ELSE 1 + ceil((n_toks - {TOKRT_WINDOW})
                        / {TOKRT_WINDOW - 2 * TOKRT_OVERLAP}.0)::BIGINT
    END AS nw
  FROM offs
), winspan AS (
  SELECT doc_id,
    unnest(generate_series(0, nw - 1))::BIGINT AS widx,
    n_toks
  FROM nw
), wins AS (
  SELECT doc_id, widx,
    ({TOKRT_WINDOW - 2 * TOKRT_OVERLAP} * widx)::BIGINT AS ws,
    least({TOKRT_WINDOW - 2 * TOKRT_OVERLAP} * widx + {TOKRT_WINDOW},
          n_toks)::BIGINT AS we
  FROM winspan
), aligned AS (
  SELECT a.doc_id, a.variant, a.start, a.fin, w.widx, w.ws, w.we,
    greatest(len(list_filter(o.ends_arr, e -> e <= a.start))::BIGINT,
             w.ws) AS f,
    least(len(list_filter(o.starts_arr, s -> s < a.fin))::BIGINT - 1,
          w.we - 1) AS l,
    o.starts_arr, o.ends_arr
  FROM anns a
  JOIN offs o USING (doc_id)
  JOIN wins w ON w.doc_id = a.doc_id
), conv AS (
  SELECT doc_id, variant, start, fin, widx,
    (f - ws)::BIGINT AS tok_start, (l + 1 - ws)::BIGINT AS tok_end,
    starts_arr[f + 1]::BIGINT AS rt_start, ends_arr[l + 1]::BIGINT AS rt_end
  FROM aligned WHERE f <= l
)
SELECT a.doc_id, a.variant, a.start, a.fin AS "end",
  c.widx AS window_idx, c.tok_start, c.tok_end, c.rt_start, c.rt_end,
  coalesce(c.rt_start = a.start AND c.rt_end = a.fin, false) AS exact,
  (c.widx IS NULL) AS missed
FROM anns a LEFT JOIN conv c
  ON c.doc_id = a.doc_id AND c.variant = a.variant
 AND c.start = a.start AND c.fin = a.fin
"""


# --------------------------- document-level text classification taskmodule


def q_doc_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document classification taskmodule (reference
    simple_transformer_text_classification.py:113-216: encode_input
    truncates to max_length, the model emits per-class logits,
    unbatch_output softmaxes + argmaxes, create_annotations_from_output
    yields one Label(label, score)). Mock encoder logits are md5 hex
    slices so DuckDB reproduces the whole softmax bit-for-bit before
    rounding; the stage itself is the real encode->forward->unbatch
    mapInPandas path (operators/doc_classify.py)."""
    from .operators.doc_classify import DOC_LABELS, classify_documents
    from .plans.skew import ensure_parallelism

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    out = classify_documents(
        docs,
        model_name="doc_mock_classifier",
        model_config={"labels": DOC_LABELS},
        max_length=64,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "label",
        F.round("score", 4).alias("score"),
        "n_tokens",
    )


def _doc_label_oracle() -> str:
    from .operators.doc_classify import DOC_LABELS

    lg_items = ",\n      ".join(
        f"(('0x' || substr(md5(enc_text || '|{lab}'), 1, 8))::BIGINT % 1000)"
        f" / 100.0" for lab in DOC_LABELS
    )
    labels_lit = ", ".join(f"'{lab}'" for lab in DOC_LABELS)
    z_sum = " + ".join(
        f"exp(lgs[{i + 1}] - m)" for i in range(len(DOC_LABELS))
    )
    return f"""
WITH enc AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         array_to_string(string_split(text, ' ')[1:64], ' ') AS enc_text
  FROM documents
), lg AS (
  SELECT doc_id, n_tokens,
    [{lg_items}] AS lgs
  FROM enc
), best AS (
  SELECT doc_id, n_tokens, lgs,
         list_aggregate(lgs, 'max') AS m,
         list_position(lgs, list_aggregate(lgs, 'max')) AS idx
  FROM lg
)
SELECT doc_id,
  ([{labels_lit}])[idx] AS label,
  round(1.0 / ({z_sum}), 4) AS score,
  n_tokens
FROM best
"""


def q_doc_label_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table over the doc-classifier confidences (the
    configure_model_metric calibration analog): decile-bin the softmax
    scores, per bin report count, DECIMAL-exact mean confidence, and
    accuracy against a deterministic synthetic gold (DOC_LABELS[doc_id %
    n]). A calibrated model shows accuracy ≈ confidence per bin; the
    md5-mock shows flat ~1/n accuracy — which is exactly what the
    diagnostic exists to reveal."""
    from .operators.doc_classify import DOC_LABELS

    preds = q_doc_label(spark, sf_dir)
    gold = None
    for i, lab in enumerate(DOC_LABELS):
        cond = F.col("doc_id") % len(DOC_LABELS) == i
        gold = (
            F.when(cond, F.lit(lab))
            if gold is None
            else gold.when(cond, F.lit(lab))
        )
    binned = preds.select(
        F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        F.col("score").cast("decimal(10,4)").alias("s"),
        (F.col("label") == gold).cast("int").alias("hit"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("s").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_confidence"
        ),
        F.round(F.sum("hit") / F.count(F.lit(1)), 6).alias("accuracy"),
    )


def _doc_label_calibration_oracle() -> str:
    from .operators.doc_classify import DOC_LABELS

    gold_case = " ".join(
        f"WHEN {i} THEN '{lab}'" for i, lab in enumerate(DOC_LABELS)
    )
    return f"""
WITH preds AS ({_doc_label_oracle()}),
binned AS (
  SELECT least(floor(score * 10)::BIGINT, 9) AS bin,
         CAST(score AS DECIMAL(10,4)) AS s,
         CASE WHEN label = (CASE doc_id % {len(DOC_LABELS)} {gold_case} END)
              THEN 1 ELSE 0 END AS hit
  FROM preds
)
SELECT bin, count(*)::BIGINT AS n,
  round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_confidence,
  round(sum(hit) / count(*)::DOUBLE, 6) AS accuracy
FROM binned GROUP BY bin
"""


# --------------------- label-vocabulary _prepare (taskmodule, BIO-expanded)


def q_label_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """taskmodule._prepare under the oracle gate (reference
    transformer_token_classification.py:117-130: collect distinct labels,
    sort, expand to O + B-/I- pairs with O at id 0). Runs the REAL
    prepare_label_vocabulary operator (driver-side collect by design — the
    vocab is a broadcast dict at scale) and exposes the result as rows."""
    from .operators.partitions import prepare_label_vocabulary

    vocab = prepare_label_vocabulary(mentions_df(spark, sf_dir), bio=True)
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(vocab)], "label_id long, tag string"
    )


LABEL_VOCAB_ORACLE = f"""
WITH ments AS ({MENTIONS_ORACLE}),
labs AS (
  SELECT DISTINCT label FROM ments
), idx AS (
  SELECT label, row_number() OVER (ORDER BY label) AS i FROM labs
)
SELECT 0::BIGINT AS label_id, 'O' AS tag
UNION ALL SELECT (2 * i - 1)::BIGINT, 'B-' || label FROM idx
UNION ALL SELECT (2 * i)::BIGINT, 'I-' || label FROM idx
"""


# ------------------- spans -> BIO tags encode (overlap -> None) per doc


def q_kg_spans_to_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spans_to_bio_tags under the oracle gate (reference
    utils/span.py:168-216: encode labeled token spans as BIO; ANY overlap
    makes the encoding undefined -> None). Gazetteer mentions extended to
    2-token spans so I- tags appear and adjacent mentions genuinely
    overlap: docs with overlapping spans come back encodable=false with
    null tags — the reference's None, observable per document."""
    from typing import Iterator

    import pandas as pd

    from .functions.span import spans_to_bio_tags
    from .plans.skew import ensure_parallelism

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split(" ")
                n = len(toks)
                spans = [
                    (GAZETTEER[t], (i, min(i + 1, n - 1)))
                    for i, t in enumerate(toks)
                    if t in GAZETTEER
                ]
                tags = spans_to_bio_tags(spans, n)
                rows.append(
                    (
                        doc_id,
                        n,
                        tags is not None,
                        "|".join(tags) if tags is not None else None,
                    )
                )
            # one output frame per incoming Arrow batch — accumulating the
            # whole partition would defeat Arrow back-pressure
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_tokens", "encodable", "tags"]
            )

    return docs.mapInPandas(
        stage, "doc_id long, n_tokens long, encodable boolean, tags string"
    )


SPANS_TO_TAGS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text, ' ')) AS surface,
         (generate_subscripts(string_split(text, ' '), 1) - 1)::BIGINT AS pos
  FROM documents
), counts AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM toks GROUP BY doc_id
), spans AS (
  SELECT t.doc_id, t.surface, t.pos AS s,
         least(t.pos + 1, c.n - 1)::BIGINT AS e,
         {_gaz_case_sql().replace("CASE surface", "CASE t.surface")} AS label
  FROM toks t JOIN counts c USING (doc_id)
  WHERE t.surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), overl AS (
  -- spans are length <= 2 with distinct integer starts, so interval
  -- overlap reduces to the adjacent-in-start-order pair check
  SELECT doc_id,
         max(CASE WHEN nxt IS NOT NULL AND nxt <= e THEN 1 ELSE 0 END)
           AS has_overlap
  FROM (
    SELECT doc_id, e,
           lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
    FROM spans
  )
  GROUP BY doc_id
), enc AS (
  SELECT c.doc_id, c.n, coalesce(o.has_overlap, 0) = 0 AS encodable
  FROM counts c LEFT JOIN overl o USING (doc_id)
), tagged AS (
  SELECT t.doc_id, t.pos,
    CASE WHEN s.s IS NULL THEN 'O'
         WHEN t.pos = s.s THEN 'B-' || s.label
         ELSE 'I-' || s.label END AS tag
  FROM toks t LEFT JOIN spans s
    ON s.doc_id = t.doc_id AND t.pos BETWEEN s.s AND s.e
), tagstr AS (
  SELECT doc_id, string_agg(tag, '|' ORDER BY pos) AS tags
  FROM tagged GROUP BY doc_id
)
SELECT e.doc_id, e.n AS n_tokens, e.encodable,
       CASE WHEN e.encodable THEN ts.tags END AS tags
FROM enc e JOIN tagstr ts USING (doc_id)
"""


# --------------- BIO encode -> decode round-trip (inverse property)


def q_kg_tags_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIO codec inverse property under the gate: encode the 2-token
    gazetteer spans (spans_to_bio_tags), decode the tags back
    (bio_tags_to_spans, reference utils/span.py:41-118 — here with real
    I- continuations, unlike the single-token mention queries), and emit
    the decoded spans for every encodable document. The oracle constructs
    the same spans directly, so any encode/decode asymmetry breaks the
    hash."""
    from typing import Iterator

    import pandas as pd

    from .functions.span import bio_tags_to_spans, spans_to_bio_tags
    from .plans.skew import ensure_parallelism

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split(" ")
                n = len(toks)
                spans = [
                    (GAZETTEER[t], (i, min(i + 1, n - 1)))
                    for i, t in enumerate(toks)
                    if t in GAZETTEER
                ]
                tags = spans_to_bio_tags(spans, n)
                if tags is None:
                    continue  # overlap: encoding undefined (gated in
                    # kg_spans_to_tags); nothing to round-trip
                for label, (s, e) in bio_tags_to_spans(tags):
                    rows.append((doc_id, label, s, e))
            yield pd.DataFrame(
                rows, columns=["doc_id", "label", "tok_start", "tok_end"]
            )

    return docs.mapInPandas(
        stage, "doc_id long, label string, tok_start long, tok_end long"
    )


TAGS_ROUNDTRIP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text, ' ')) AS surface,
         (generate_subscripts(string_split(text, ' '), 1) - 1)::BIGINT AS pos
  FROM documents
), counts AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM toks GROUP BY doc_id
), spans AS (
  SELECT t.doc_id, t.pos AS s,
         least(t.pos + 1, c.n - 1)::BIGINT AS e,
         {_gaz_case_sql().replace("CASE surface", "CASE t.surface")} AS label
  FROM toks t JOIN counts c USING (doc_id)
  WHERE t.surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), overl AS (
  SELECT doc_id,
         max(CASE WHEN nxt IS NOT NULL AND nxt <= e THEN 1 ELSE 0 END)
           AS has_overlap
  FROM (
    SELECT doc_id, e,
           lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
    FROM spans
  )
  GROUP BY doc_id
)
SELECT s.doc_id, s.label, s.s AS tok_start, s.e AS tok_end
FROM spans s JOIN overl o USING (doc_id)
WHERE o.has_overlap = 0
"""


# --------------------------- int BIO encode (taskmodule target encoding)


def q_kg_bio_int_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer BIO target encoding under the oracle gate (reference
    re_text_classification_with_indices.py:279-290: O=0, B-label=2*id+1,
    I-label=2*id+2 over the label vocabulary) — the real
    functions/span.bio_encode_int run per document inside mapInPandas over
    the non-overlapping 2-token gazetteer spans, label ids from the sorted
    label vocabulary; the oracle rebuilds the same arithmetic in SQL."""
    from typing import Iterator

    import pandas as pd

    from .functions.span import bio_encode_int, spans_to_bio_tags
    from .plans.skew import ensure_parallelism

    label_to_id = {
        lab: i for i, lab in enumerate(sorted(set(GAZETTEER.values())))
    }
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split(" ")
                n = len(toks)
                spans = [
                    (GAZETTEER[t], (i, min(i + 1, n - 1)))
                    for i, t in enumerate(toks)
                    if t in GAZETTEER
                ]
                if spans_to_bio_tags(spans, n) is None:
                    continue  # overlap: int encoding would overwrite
                    # earlier spans in input order — excluded like the
                    # string-tag queries (gated in kg_spans_to_tags)
                enc = bio_encode_int(spans, n, label_to_id)
                rows.append((doc_id, n, "|".join(str(v) for v in enc)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_tokens", "int_tags"]
            )

    return docs.mapInPandas(
        stage, "doc_id long, n_tokens long, int_tags string"
    )


def _bio_int_label_id_sql() -> str:
    whens = " ".join(
        f"WHEN '{lab}' THEN {i}"
        for i, lab in enumerate(sorted(set(GAZETTEER.values())))
    )
    return f"CASE s.label {whens} END"


BIO_INT_TAGS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text, ' ')) AS surface,
         (generate_subscripts(string_split(text, ' '), 1) - 1)::BIGINT AS pos
  FROM documents
), counts AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM toks GROUP BY doc_id
), spans AS (
  SELECT t.doc_id, t.pos AS s,
         least(t.pos + 1, c.n - 1)::BIGINT AS e,
         {_gaz_case_sql().replace("CASE surface", "CASE t.surface")} AS label
  FROM toks t JOIN counts c USING (doc_id)
  WHERE t.surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
), overl AS (
  SELECT doc_id,
         max(CASE WHEN nxt IS NOT NULL AND nxt <= e THEN 1 ELSE 0 END)
           AS has_overlap
  FROM (
    SELECT doc_id, e,
           lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
    FROM spans
  )
  GROUP BY doc_id
), tagged AS (
  SELECT t.doc_id, t.pos,
    CASE WHEN s.s IS NULL THEN 0
         WHEN t.pos = s.s THEN ({_bio_int_label_id_sql()}) * 2 + 1
         ELSE ({_bio_int_label_id_sql()}) * 2 + 2 END AS tag
  FROM toks t LEFT JOIN spans s
    ON s.doc_id = t.doc_id AND t.pos BETWEEN s.s AND s.e
), tagstr AS (
  SELECT doc_id, string_agg(tag::VARCHAR, '|' ORDER BY pos) AS int_tags
  FROM tagged GROUP BY doc_id
)
SELECT c.doc_id, c.n AS n_tokens, ts.int_tags
FROM counts c
JOIN tagstr ts USING (doc_id)
LEFT JOIN overl o USING (doc_id)
WHERE coalesce(o.has_overlap, 0) = 0
"""


# --------------------------- strict IOB2 decode (raise-on-ill-formed)


def q_kg_iob2_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT IOB2 decode under the oracle gate (the external
    tag_sequence_to_token_spans contract the reference delegates to: every
    span opens with B-; an I- that does not continue an open span of the
    same label raises InvalidTagSequence): per document, a deterministic
    tag sequence with REAL ill-formed cases (gazetteer tokens open B-
    spans; the corpus's continuation token 'dup' emits I-ALGO, which is a
    legal continuation after 'hash'/'merge'/'sort' B-ALGO spans but a
    dangling or label-mismatched I- everywhere else), decoded by the real
    functions/span.iob2_tags_to_spans — the raise surfaced as valid=false
    with null spans, mirroring how kg_spans_to_tags made overlap->None
    observable."""
    from typing import Iterator

    import pandas as pd

    from .functions.span import InvalidTagSequence, iob2_tags_to_spans
    from .plans.skew import ensure_parallelism

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )

    def tag_of(tok: str) -> str:
        if tok in GAZETTEER:
            return "B-" + GAZETTEER[tok]
        if tok == "dup":
            return "I-ALGO"
        return "O"

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split(" ")
                tags = [tag_of(t) for t in toks]
                try:
                    spans = iob2_tags_to_spans(tags)
                    rows.append(
                        (
                            doc_id,
                            len(toks),
                            True,
                            len(spans),
                            ";".join(
                                f"{lab}:{s}-{e}" for lab, (s, e) in spans
                            ),
                        )
                    )
                except InvalidTagSequence:
                    rows.append((doc_id, len(toks), False, None, None))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_tokens", "valid", "n_spans", "spans"],
            )

    return docs.mapInPandas(
        stage,
        "doc_id long, n_tokens long, valid boolean, n_spans long, "
        "spans string",
    )


IOB2_STRICT_ORACLE = f"""
WITH tk AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(text, ' ')) AS surface,
         (generate_subscripts(string_split(text, ' '), 1) - 1)::BIGINT AS pos
  FROM documents
), tags AS (
  SELECT doc_id, pos,
    CASE WHEN surface IN ({",".join(f"'{w}'" for w in GAZETTEER)})
           THEN 'B-' || ({_gaz_case_sql()})
         WHEN surface = 'dup' THEN 'I-ALGO'
         ELSE 'O' END AS tag
  FROM tk
), lagged AS (
  SELECT doc_id, pos, tag,
         lag(tag) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM tags
), validity AS (
  -- an I- is locally valid iff the previous tag opens/continues the same
  -- label; local validity everywhere == the sequential decoder not raising
  SELECT doc_id,
    bool_and(NOT (
      tag LIKE 'I-%' AND (
        prev IS NULL
        OR prev NOT IN ('B-' || substr(tag, 3), 'I-' || substr(tag, 3))
      )
    )) AS valid
  FROM lagged GROUP BY doc_id
), counts AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM tk GROUP BY doc_id
), isl AS (
  -- valid docs only: every span is a B- island with its I- continuations
  SELECT l.doc_id, l.pos, l.tag,
    sum(CASE WHEN l.tag LIKE 'B-%' THEN 1 ELSE 0 END)
      OVER (PARTITION BY l.doc_id ORDER BY l.pos) AS gid
  FROM lagged l JOIN validity v USING (doc_id)
  WHERE v.valid AND l.tag != 'O'
), sp AS (
  SELECT doc_id, gid, min(substr(tag, 3)) AS label,
         min(pos)::BIGINT AS s, max(pos)::BIGINT AS e
  FROM isl GROUP BY doc_id, gid
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_spans,
         string_agg(label || ':' || s || '-' || e, ';' ORDER BY s) AS spans
  FROM sp GROUP BY doc_id
)
SELECT c.doc_id, c.n AS n_tokens, v.valid,
       CASE WHEN v.valid THEN coalesce(a.n_spans, 0) END AS n_spans,
       CASE WHEN v.valid THEN coalesce(a.spans, '') END AS spans
FROM counts c
JOIN validity v USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


# ---------------- doc-level as_type: token windows back to text documents


def q_doc_as_type_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level as_type conversion both ways (reference
    utils/document.py:150-232 text->token + :302-363 token->text): window-
    tokenize every document, then reconstruct each window's text from the
    token/offset arrays with the pure-JVM gap-fill fold
    (token_documents_to_text_documents) and assert it matches the source
    substring at the recorded char_offset. The oracle rebuilds the window
    text independently by re-joining the window token slice.

    Corpus contract (same adjudication as kg_mentions_udf): on the
    synthetic single-space lowercase corpus the regex tokenizer equals
    split-on-space, so the SQL oracle applies verbatim; empty documents
    are excluded on BOTH sides (encode_documents yields no window for
    them, DuckDB's string_split('') would yield one)."""
    from .operators.doc_tokenize import (
        text_documents_to_token_documents,
        token_documents_to_text_documents,
    )
    from .plans.skew import ensure_parallelism

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).where(
        F.length("text") > 0
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        F.sha2("text", 256).alias("content_sha256"),
    )
    tok_docs = text_documents_to_token_documents(
        docs, TOKRT_WINDOW, TOKRT_OVERLAP
    )
    txt = token_documents_to_text_documents(tok_docs)
    src = docs.select(
        F.col("doc_id").alias("_doc_id"), F.col("text").alias("src_text")
    )
    return (
        txt.join(src, F.col("doc_id") == F.col("_doc_id"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("window_idx").cast("long").alias("window_idx"),
            F.col("char_offset").cast("long").alias("char_offset"),
            F.length("text").cast("long").alias("n_chars"),
            "text",
            (
                F.col("text")
                == F.expr(
                    "substring(src_text, char_offset + 1, length(text))"
                )
            ).alias("matches_source"),
        )
    )


def _doc_as_type_text_oracle() -> str:
    stride = TOKRT_WINDOW - 2 * TOKRT_OVERLAP
    return f"""
WITH toks AS (
  SELECT doc_id, text, unnest(string_split(text, ' ')) AS surface,
         generate_subscripts(string_split(text, ' '), 1) AS ord
  FROM documents WHERE length(text) > 0
), pos AS (
  SELECT doc_id, text, surface, ord,
         (sum(length(surface) + 1) OVER (PARTITION BY doc_id ORDER BY ord)
          - length(surface) - 1) AS cs
  FROM toks
), offs AS (
  SELECT doc_id::BIGINT AS doc_id, any_value(text) AS text,
         list(cs ORDER BY ord) AS starts_arr,
         list(cs + length(surface) ORDER BY ord) AS ends_arr,
         list(surface ORDER BY ord) AS toks_arr,
         count(*)::BIGINT AS n_toks
  FROM pos GROUP BY doc_id
), nw AS (
  SELECT doc_id,
    CASE WHEN n_toks <= {TOKRT_WINDOW} THEN 1
         ELSE 1 + ceil((n_toks - {TOKRT_WINDOW}) / {stride}.0)::BIGINT
    END AS nw, n_toks
  FROM offs
), wins AS (
  SELECT doc_id,
    unnest(generate_series(0, nw - 1))::BIGINT AS widx,
    n_toks
  FROM nw
), spans AS (
  SELECT doc_id, widx,
    ({stride} * widx)::BIGINT AS ws,
    least({stride} * widx + {TOKRT_WINDOW}, n_toks)::BIGINT AS we
  FROM wins
)
SELECT o.doc_id, s.widx AS window_idx,
  o.starts_arr[s.ws + 1]::BIGINT AS char_offset,
  (o.ends_arr[s.we] - o.starts_arr[s.ws + 1])::BIGINT AS n_chars,
  array_to_string(o.toks_arr[s.ws + 1 : s.we], ' ') AS text,
  substr(o.text, (o.starts_arr[s.ws + 1] + 1)::BIGINT,
         (o.ends_arr[s.we] - o.starts_arr[s.ws + 1])::BIGINT)
    = array_to_string(o.toks_arr[s.ws + 1 : s.we], ' ') AS matches_source
FROM spans s JOIN offs o USING (doc_id)
"""


# ------------------------ GENRE-style generative entity linking (trie)


def q_kg_entity_linking_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trie-constrained generative entity linking (reference models/genre/
    + pointer_network/logits_processor.py:9-57: per-step allowed-token
    masking from the prefix). Greedy decode (HF num_beams=1 semantics)
    over the broadcast ENTITY_KB trie with md5 mock step scores; the
    oracle unrolls the decode step-by-step, so a constraint violation at
    ANY step (an out-of-trie token surviving) breaks the value hash."""
    from .operators.entity_linking_gen import (
        ENTITY_KB,
        link_entities_generative,
    )

    m = mentions_df(spark, sf_dir).select("doc_id", "start", "surface")
    return link_entities_generative(m, kb=ENTITY_KB, beam_size=1)


def _entity_linking_gen_oracle() -> str:
    from .operators.entity_linking_gen import ENTITY_KB, trie_edges

    # the SQL below unrolls exactly 4 decode steps (3 tokens + forced EOS);
    # a longer KB name would decode fine in Spark but silently truncate in
    # the oracle's final CASE — fail loudly at registration instead
    too_long = [n for n in ENTITY_KB if len(n.split(" ")) > 3]
    if too_long:
        # not an assert: under `python -O` an assert is stripped and a
        # 4-token KB name would silently truncate the final CASE
        raise ValueError(
            f"oracle unroll depth is 3 tokens; regenerate it for {too_long}"
        )
    edges_values = ",\n    ".join(
        f"('{p}', '{n}')" for p, n in trie_edges(ENTITY_KB)
    )

    def sc(prefix_expr: str, cand_expr: str) -> str:
        return (
            f"('0x' || substr(md5(key || '|' || {prefix_expr} || '|' || "
            f"{cand_expr}), 1, 8))::BIGINT % 1000"
        )

    return f"""
WITH ments AS ({MENTIONS_ORACLE}),
keyed AS (
  SELECT doc_id, start, surface,
         surface || '#' || doc_id || '#' || start AS key
  FROM ments
),
edges(prefix, next) AS (VALUES
    {edges_values}
),
s1 AS (
  SELECT k.*, e.next AS t1, {sc("''", "e.next")} AS sc1
  FROM keyed k JOIN edges e ON e.prefix = ''
  QUALIFY row_number() OVER (PARTITION BY doc_id, start
      ORDER BY sc1 DESC, e.next) = 1
),
s2 AS (
  SELECT s1.*, e.next AS c2, {sc("t1", "e.next")} AS sc2
  FROM s1 JOIN edges e ON e.prefix = s1.t1
  QUALIFY row_number() OVER (PARTITION BY doc_id, start
      ORDER BY sc2 DESC, e.next) = 1
),
s3 AS (
  SELECT s2.*, e.next AS c3,
    CASE WHEN e.next IS NOT NULL
         THEN {sc("t1 || ' ' || c2", "e.next")} END AS sc3
  FROM s2 LEFT JOIN edges e
    ON s2.c2 != '</s>' AND e.prefix = s2.t1 || ' ' || s2.c2
  QUALIFY row_number() OVER (PARTITION BY doc_id, start
      ORDER BY sc3 DESC NULLS LAST, e.next NULLS LAST) = 1
),
s4 AS (
  SELECT s3.*, e.next AS c4,
    CASE WHEN e.next IS NOT NULL
         THEN {sc("t1 || ' ' || c2 || ' ' || c3", "e.next")} END AS sc4
  FROM s3 LEFT JOIN edges e
    ON s3.c3 IS NOT NULL AND s3.c3 != '</s>'
   AND e.prefix = s3.t1 || ' ' || s3.c2 || ' ' || s3.c3
  QUALIFY row_number() OVER (PARTITION BY doc_id, start
      ORDER BY sc4 DESC NULLS LAST, e.next NULLS LAST) = 1
)
SELECT doc_id, start, surface,
  CASE WHEN c2 = '</s>' THEN t1
       WHEN c3 = '</s>' THEN t1 || ' ' || c2
       ELSE t1 || ' ' || c2 || ' ' || c3 END AS entity,
  (sc1 + sc2 + coalesce(sc3, 0) + coalesce(sc4, 0))::BIGINT AS gen_score
FROM s4
"""


QUERIES: dict[str, tuple] = {
    # KG construction
    "kg_mentions": (q_kg_mentions, MENTIONS_ORACLE),
    "kg_tokenize_roundtrip": (
        q_kg_tokenize_roundtrip,
        TOKENIZE_ROUNDTRIP_ORACLE,
    ),
    "kg_span_enum": (q_kg_span_enum, SPAN_ENUM_ORACLE),
    "corpus_json": (q_corpus_json, CORPUS_JSON_ORACLE),
    "kg_re_markers": (q_kg_re_markers, RE_MARKERS_ORACLE),
    "text2text": (q_text2text, TEXT2TEXT_ORACLE),
    "crf_viterbi": (q_crf_viterbi, CRF_VITERBI_ORACLE),
    "kg_pooler": (q_kg_pooler, POOLER_ORACLE),
    "kg_reversed_relations": (
        q_kg_reversed_relations,
        REVERSED_RELATIONS_ORACLE,
    ),
    "kg_special_tokens": (q_kg_special_tokens, SPECIAL_TOKENS_ORACLE),
    "kg_candidate_pairs": (q_kg_candidate_pairs, CANDIDATE_PAIRS_ORACLE),
    "kg_relations": (q_kg_relations, _relations_oracle(MAX_REL_DISTANCE)),
    "kg_triples": (q_kg_triples, TRIPLES_ORACLE),
    "kg_entity_linking": (q_kg_entity_linking, ENTITY_LINKING_ORACLE),
    "kg_connected_components": (q_kg_connected_components, CC_ORACLE),
    "kg_pr_metrics": (q_kg_pr_metrics, PR_METRICS_ORACLE),
    "kg_relation_stats": (q_kg_relation_stats, RELATION_STATS_ORACLE),
    # dedup family
    "dedup_exact": (q_dedup_exact, DEDUP_EXACT_ORACLE),
    "dedup_minhash_signatures": (q_dedup_minhash_signatures, MINHASH_SIG_ORACLE),
    "dedup_minhash_pairs": (q_dedup_minhash_pairs, MINHASH_PAIRS_ORACLE),
    "dedup_simhash": (q_dedup_simhash, SIMHASH_ORACLE),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SIMHASH_PAIRS_ORACLE),
    "dedup_simhash60_pairs": (
        q_dedup_simhash60_pairs,
        SIMHASH60_PAIRS_ORACLE,
    ),
    "dedup_simhash_clusters": (
        q_dedup_simhash_clusters,
        _simhash_clusters_oracle(),
    ),
    "dedup_clusters": (q_dedup_clusters, DEDUP_CLUSTERS_ORACLE),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, NGRAM_JACCARD_ORACLE),
    # similarity
    "ann_topk": (q_ann_topk, ANN_TOPK_ORACLE),
    "ann_lsh_buckets": (q_ann_lsh_buckets, ANN_LSH_ORACLE),
    "ann_ivf": (q_ann_ivf, ANN_IVF_ORACLE),
    "ann_ivf_recall": (q_ann_ivf_recall, ANN_IVF_RECALL_ORACLE),
    "embedding_near_dups": (q_embedding_near_dups, EMB_NEAR_DUP_ORACLE),
    # text analysis
    "text_stats": (q_text_stats, TEXT_STATS_ORACLE),
    "text_quality": (q_text_quality, TEXT_QUALITY_ORACLE),
    "text_langid": (q_text_langid, TEXT_LANGID_ORACLE),
    "text_repetition": (q_text_repetition, TEXT_REPETITION_ORACLE),
    "text_fingerprint": (q_text_fingerprint, TEXT_FINGERPRINT_ORACLE),
    # relational core
    "tpch_q1": (q_tpch_q1, TPCH_Q1_ORACLE),
    "tpch_q3": (q_tpch_q3, TPCH_Q3_ORACLE),
    "tpch_q5": (q_tpch_q5, TPCH_Q5_ORACLE),
    "tpch_q14": (q_tpch_q14, TPCH_Q14_ORACLE),
    "window_top_customers": (q_window_top_customers, WINDOW_TOP_ORACLE),
    # events / sessionization
    "events_sessionize": (q_events_sessionize, SESSIONIZE_ORACLE),
    "events_windowed": (q_events_windowed, EVENTS_WINDOWED_ORACLE),
    # pipeline-stage UDF paths under the same oracle gate
    "kg_mentions_udf": (q_kg_mentions_udf, MENTIONS_ORACLE),
    "kg_triples_fused": (q_kg_triples_fused, TRIPLES_FUSED_ORACLE),
    "multimodal_features": (q_multimodal_features, MULTIMODAL_ORACLE),
    # JSON scalar functions + agg-over-subquery
    "events_json_props": (q_events_json_props, EVENTS_JSON_ORACLE),
    "tpch_big_orders": (q_tpch_big_orders, BIG_ORDERS_ORACLE),
    # pointer-network codec (encode JVM-side, resumable parse in Arrow UDF)
    "kg_pointer_roundtrip": (q_kg_pointer_roundtrip, POINTER_ROUNDTRIP_ORACLE),
    # cross-text coref text pairs (blocked cross-doc join + windowed context)
    "kg_coref_pairs": (q_kg_coref_pairs, COREF_PAIRS_ORACLE),
    # §2 operator exposure: partition filter, dup policy, window math,
    # seq2seq codec, BRAT standoff parse
    "kg_partition_filter": (q_kg_partition_filter, PARTITION_FILTER_ORACLE),
    "kg_dedup_policy": (q_kg_dedup_policy, DEDUP_POLICY_ORACLE),
    "window_slices": (q_window_slices, WINDOW_SLICES_ORACLE),
    "seq2seq_roundtrip": (q_seq2seq_roundtrip, SEQ2SEQ_ROUNDTRIP_ORACLE),
    "corpus_brat": (q_corpus_brat, CORPUS_BRAT_ORACLE),
    # RE encode path: token distance + window-around-candidate + gather
    "kg_re_windows": (q_kg_re_windows, RE_WINDOWS_ORACLE),
    "kg_re_gather": (q_kg_re_gather, RE_GATHER_ORACLE),
    # n-ary canonical order, multi-label spans, tokens+tags bootstrap
    "kg_nary_order": (q_kg_nary_order, NARY_ORDER_ORACLE),
    "kg_multilabel_spans": (q_kg_multilabel_spans, MULTILABEL_ORACLE),
    "kg_tokens_tags_spans": (q_kg_tokens_tags_spans, TOKENS_TAGS_ORACLE),
    # score combination + majority vote
    "span_score_combine": (q_span_score_combine, SPAN_SCORE_ORACLE),
    "label_vote": (q_label_vote, LABEL_VOTE_ORACLE),
    # whitelist filter, layer merge, entity grounding
    "kg_whitelist_pairs": (q_kg_whitelist_pairs, WHITELIST_ORACLE),
    "kg_layer_merge": (q_kg_layer_merge, LAYER_MERGE_ORACLE),
    "seq2seq_grounding": (q_seq2seq_grounding, GROUNDING_ORACLE),
    # TACRED JSON source (from_json + token->char prefix sums)
    "corpus_tacred": (q_corpus_tacred, TACRED_ORACLE),
    # media frame-sampling explode
    "multimodal_frames": (q_multimodal_frames, MULTIMODAL_FRAMES_ORACLE),
    # encode_target: gold labels + none negatives over candidates
    "kg_gold_pair_labels": (q_kg_gold_pair_labels, GOLD_PAIR_LABELS_ORACLE),
    # as-of join (union-tag + single window pass; DuckDB ASOF JOIN oracle)
    "events_asof": (q_events_asof, EVENTS_ASOF_ORACLE),
    # multi-resolution rollup in one pass
    "events_rollup": (q_events_rollup, EVENTS_ROLLUP_ORACLE),
    # whitespace + BPE-ish regex token counting
    "text_token_counts": (q_text_token_counts, TEXT_TOKEN_COUNTS_ORACLE),
    # text_to_text layer analog (extractive summary row per doc)
    "doc_summary": (q_doc_summary, DOC_SUMMARY_ORACLE),
    # IO tag decode (merge-adjacent semantics; gaps-and-islands oracle)
    "io_tag_spans": (q_io_tag_spans, IO_TAG_SPANS_ORACLE),
    # document-level text-classification taskmodule (encode->forward->unbatch)
    "doc_label": (q_doc_label, _doc_label_oracle()),
    "doc_label_calibration": (q_doc_label_calibration, _doc_label_calibration_oracle()),
    # GENRE-style trie-constrained generative entity linking
    "kg_entity_linking_gen": (
        q_kg_entity_linking_gen,
        _entity_linking_gen_oracle(),
    ),
    # doc-level as_type: token windows -> reconstructed text documents
    "doc_as_type_text": (q_doc_as_type_text, _doc_as_type_text_oracle()),
    # taskmodule _prepare: sorted BIO-expanded label vocabulary
    "label_vocab": (q_label_vocab, LABEL_VOCAB_ORACLE),
    # spans -> BIO tags encode, overlap -> None per document
    "kg_spans_to_tags": (q_kg_spans_to_tags, SPANS_TO_TAGS_ORACLE),
    # BIO encode -> decode inverse property (real I- continuations)
    "kg_tags_roundtrip": (q_kg_tags_roundtrip, TAGS_ROUNDTRIP_ORACLE),
    "kg_coref_scored": (q_kg_coref_scored, COREF_SCORED_ORACLE),
    "text2text_guided": (q_text2text_guided, TEXT2TEXT_GUIDED_ORACLE),
    "kg_bio_int_tags": (q_kg_bio_int_tags, BIO_INT_TAGS_ORACLE),
    "kg_iob2_strict": (q_kg_iob2_strict, IOB2_STRICT_ORACLE),
    "text_contamination": (q_text_contamination, TEXT_CONTAMINATION_ORACLE),
    "text_tfidf": (q_text_tfidf, TEXT_TFIDF_ORACLE),
    "text_sampled": (q_text_sampled, TEXT_SAMPLED_ORACLE),
    "text_packed": (q_text_packed, TEXT_PACKED_ORACLE),
    "text_boilerplate": (q_text_boilerplate, TEXT_BOILERPLATE_ORACLE),
    "corpus_curation": (q_corpus_curation, CORPUS_CURATION_ORACLE),
    "corpus_length_stats": (q_corpus_length_stats, CORPUS_LENGTH_STATS_ORACLE),
    "kg_pagerank": (q_kg_pagerank, KG_PAGERANK_ORACLE),
    "kg_graph_degrees": (q_kg_graph_degrees, KG_GRAPH_DEGREES_ORACLE),
    "dedup_cross_corpus": (q_dedup_cross_corpus, CROSS_CORPUS_ORACLE),
    "corpus_mixture": (q_corpus_mixture, CORPUS_MIXTURE_ORACLE),
    "kg_negative_samples": (
        q_kg_negative_samples,
        KG_NEGATIVE_SAMPLES_ORACLE.format(
            rels=_relations_oracle(MAX_REL_DISTANCE)
        ),
    ),
    "kg_cardinality_check": (
        q_kg_cardinality_check,
        KG_CARDINALITY_ORACLE.format(
            rels=_relations_oracle(MAX_REL_DISTANCE)
        ),
    ),
    "embedding_class_centroids": (
        q_embedding_class_centroids,
        EMBEDDING_CENTROIDS_ORACLE,
    ),
    "kg_two_hop": (q_kg_two_hop, KG_TWO_HOP_ORACLE),
    "events_funnel": (q_events_funnel, EVENTS_FUNNEL_ORACLE),
    "corpus_diversity": (q_corpus_diversity, CORPUS_DIVERSITY_ORACLE),
    "text_unigram_logprob": (q_text_unigram_logprob, TEXT_UNIGRAM_LOGPROB_ORACLE),
    "text_char_entropy": (q_text_char_entropy, TEXT_CHAR_ENTROPY_ORACLE),
    "text_winnowing": (q_text_winnowing, TEXT_WINNOWING_ORACLE),
    "dedup_winnow_pairs": (q_dedup_winnow_pairs, DEDUP_WINNOW_PAIRS_ORACLE),
    "corpus_source_stats": (q_corpus_source_stats, CORPUS_SOURCE_STATS_ORACLE),
}
