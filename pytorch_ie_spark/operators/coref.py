"""Cross-text binary coreference: text-pair construction + span-pair
similarity scoring, as pure DataFrame expressions.

Reference analog: CrossTextBinaryCorefTaskModule
(src/pytorch_ie/taskmodules/cross_text_binary_coref.py:145-212): pairs of
(span in text, span in text_pair), each side's encoding truncated to a
window centered on its span (get_window_around_slice), scored for
similarity with a threshold decision.

Spark-first re-expression for corpus scale:

  - candidate pairs are a BLOCKED cross-document self-join — never a cross
    join. The default block is the normalized surface form (coref
    candidates share a surface); any blocking column works, e.g. a
    MinHash-LSH band from operators/canonicalize.py for fuzzy-surface
    blocking,
  - the context window around each span is the same centered-window
    arithmetic as functions/window.window_around_slice, inlined as
    JVM-side expressions (floor/clamp/shift) in char space (the sandbox's
    tokenizer-free stand-in for the reference's token windows),
  - the similarity model is a deterministic char-shingle Jaccard over the
    two context windows (engine-portable, so the whole operator is
    oracle-checkable; a transformer pair-encoder would slot into the same
    pair table via mapInPandas),
  - spans longer than the window are dropped, mirroring the reference's
    SpanDoesNotFitIntoAvailableWindow skip (observable via
    `coref_skipped_spans`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.window import centered_window_cols
from .canonicalize import normalize_surface
from .dedup import char_shingles_col


def coref_text_pairs(
    documents: DataFrame,
    mentions: DataFrame,
    max_window: int = 32,
    shingle_k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Cross-document coref candidate pairs with similarity scores.

    documents: (doc_id, text); mentions: (doc_id, start, end, surface).
    Returns one row per (doc_id < doc_id_pair) pair of same-block mentions:
      (block, doc_id, start, doc_id_pair, start_pair, score, is_similar)

    One mention per (doc, block) is kept (the first by offset) so a
    surface repeated within a document doesn't multiply pairs — pair
    multiplicity is cross-document, like the reference's text-pair
    documents. Spans wider than max_window are skipped (see module doc).
    """
    block = (
        F.col(block_col)
        if block_col
        else normalize_surface(F.col("surface")).alias("block")
    )
    m = mentions.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        block if block_col is None else F.col(block_col).alias("block"),
    ).where((F.col("end") - F.col("start")) <= max_window)
    # first mention per (doc, block): min struct by (start, end)
    firsts = m.groupBy("doc_id", "block").agg(
        F.min(F.struct("start", "end")).alias("m")
    ).select("doc_id", "block", F.col("m.start").alias("start"), F.col("m.end").alias("end"))
    docs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text"),
        F.length("text").cast("long").alias("_len"),
    )
    with_ctx = firsts.join(docs, "doc_id")
    ws, we = centered_window_cols(
        F.col("start"), F.col("end"), F.col("_len"), max_window
    )
    ctx = F.substring(
        F.col("text"), (ws + 1).cast("int"), (we - ws).cast("int")
    )
    # Pin the shingled frame so the window/shingle HOFs run once for both
    # join sides, then SPREAD the probe side before the pair join: the join
    # fans out quadratically per block over a handful of distinct blocks, so
    # left to itself the tiny (one row per (doc, block)) input coalesces to
    # ~1 partition and the entire pair explosion runs on one core. An
    # explicit round-robin repartition (user-specified N — AQE never
    # coalesces it) bounds probe rows per task; the build side is the same
    # pinned frame, broadcast (it is first-mention-per-(doc, block) sized,
    # the blocked-coref contract; for a corpus whose firsts table exceeds
    # broadcast limits, block_col is the knob — block on an LSH band or
    # corpus partition so each block's pair volume is bounded).
    sided = with_ctx.select(
        "block",
        "doc_id",
        "start",
        char_shingles_col(ctx, shingle_k).alias("ctx_sh"),
    ).localCheckpoint(eager=False)
    n_out = documents.sparkSession.sparkContext.defaultParallelism * 4
    a = sided.repartition(n_out)
    b = F.broadcast(
        sided.select(
            F.col("block").alias("block2"),
            F.col("doc_id").alias("doc_id_pair"),
            F.col("start").alias("start_pair"),
            F.col("ctx_sh").alias("ctx_sh_pair"),
        )
    )
    pairs = a.join(
        b,
        (a.block == F.col("block2")) & (F.col("doc_id") < F.col("doc_id_pair")),
    )
    inter = F.size(F.array_intersect(F.col("ctx_sh"), F.col("ctx_sh_pair")))
    union = F.size("ctx_sh") + F.size("ctx_sh_pair") - inter
    score = F.round(inter / union, 6)
    # two projects, not one: `score` is an expensive (array_intersect)
    # expression referenced twice; as a separate non-cheap alias it is NOT
    # inlined by CollapseProject, so the intersect runs once per pair
    scored = pairs.select(
        "block",
        "doc_id",
        "start",
        "doc_id_pair",
        "start_pair",
        score.alias("score"),
    )
    return scored.select(
        "*", (F.col("score") >= threshold).alias("is_similar")
    )


def coref_pairs_pooler_scored(
    documents: DataFrame,
    mentions: DataFrame,
    context_tokens: int = 2,
    threshold: float = 0.9,
    pooler: str = "max",
) -> DataFrame:
    """The `scorer="pooler"` coref variant: span-pair similarity through the
    pooler/model seam instead of context-shingle Jaccard.

    Reference analog: SequencePairSimilarityModelWithPooler
    (models/sequence_classification_with_pooler.py:290-360) — both texts are
    encoded independently, a mention pooler (default: max pooling over the
    span token states, models/components/pooler.py SpanMaxPooler) produces
    one vector per span, and the classifier head is
    torch.nn.functional.cosine_similarity over the two pooled vectors; pairs
    above `label_threshold` are coreferent.

    Spark-first shape: the per-token "hidden states" are the deterministic
    md5-mock vectors from functions/pooler.py (real encoder states drop into
    the same array<float> column via mapInPandas); because the mock states
    are context-free, the pooled span is widened by `context_tokens` on each
    side so the pooled representation carries document context the way a
    transformer's contextualized span states would. Everything is JVM
    expressions — pairing is the same blocked (never cross) self-join as
    coref_text_pairs, scoring is fixed-order integer arithmetic + one
    sqrt/divide, so DuckDB reproduces every score bit-for-bit.

    documents: (doc_id, text); mentions: (doc_id, tok_start, tok_end, block)
    with token offsets, tok_end exclusive. Returns one row per
    (doc_id < doc_id_pair) same-block pair:
      (block, doc_id, tok_start, doc_id_pair, tok_start_pair, score,
       is_similar)
    """
    from ..functions.pooler import (
        cosine_sim_col,
        pool_span_max_vec,
        token_state_vecs,
    )

    if pooler != "max":
        raise ValueError(f"unknown pooler {pooler!r}; only 'max' (mention_pooling)")
    m = mentions.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.col("tok_end").cast("long").alias("tok_end"),
        F.col("block"),
    )
    firsts = m.groupBy("doc_id", "block").agg(
        F.min(F.struct("tok_start", "tok_end")).alias("m")
    ).select(
        "doc_id", "block",
        F.col("m.tok_start").alias("tok_start"),
        F.col("m.tok_end").alias("tok_end"),
    )
    docs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_state_vecs(F.split("text", " ")).alias("vecs"),
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
    )
    span_s = F.greatest(F.col("tok_start") - context_tokens, F.lit(0))
    span_e = F.least(F.col("tok_end") + context_tokens, F.col("n_toks"))
    # Same pair-join treatment as coref_text_pairs: pin the pooled frame
    # (md5 token-state generation + span max-pooling HOFs run once, not once
    # per join side), spread the probe side with an explicit repartition so
    # the per-block quadratic fan-out is generated by many tasks instead of
    # one AQE-coalesced partition, and broadcast the (doc, block)-sized
    # build side.
    sided = firsts.join(docs, "doc_id").select(
        "block",
        "doc_id",
        "tok_start",
        pool_span_max_vec(F.col("vecs"), span_s, span_e - span_s).alias(
            "pooled"
        ),
    ).localCheckpoint(eager=False)
    n_out = documents.sparkSession.sparkContext.defaultParallelism * 4
    a = sided.repartition(n_out)
    b = F.broadcast(
        sided.select(
            F.col("block").alias("block2"),
            F.col("doc_id").alias("doc_id_pair"),
            F.col("tok_start").alias("tok_start_pair"),
            F.col("pooled").alias("pooled_pair"),
        )
    )
    pairs = a.join(
        b,
        (a.block == F.col("block2")) & (F.col("doc_id") < F.col("doc_id_pair")),
    )
    score = cosine_sim_col(F.col("pooled"), F.col("pooled_pair"))
    # two projects (see coref_text_pairs): the cosine fold is evaluated
    # once per pair, is_similar reads the materialized score column
    scored = pairs.select(
        "block",
        "doc_id",
        "tok_start",
        "doc_id_pair",
        "tok_start_pair",
        score.alias("score"),
    )
    return scored.select(
        "*", (F.col("score") >= threshold).alias("is_similar")
    )


def coref_skipped_spans(
    mentions: DataFrame, max_window: int = 32
) -> DataFrame:
    """Mentions the pair builder drops because the span itself exceeds the
    window (the reference's skipped_span_does_not_fit_into_window
    counter, as an auditable DataFrame)."""
    return mentions.where(
        (F.col("end") - F.col("start")) > max_window
    ).select("doc_id", "start", "end", "surface")
