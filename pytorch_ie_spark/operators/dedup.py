"""Document deduplication family for training-data pipelines, and the one
MinHash-LSH core every MinHash caller in the package runs on.

All variants are pure DataFrame expressions (whole-stage codegen, no UDFs)
built on engine-portable md5 hashing so each has a bit-exact DuckDB oracle:

  - exact:         md5 of normalized text, keep min doc_id per group
  - MinHash + LSH: char-shingle universal-hash minhash (one md5 per shingle,
                   affine transforms per component) -> banded buckets ->
                   verified candidate pairs (near-dup)
  - SimHash:       16-bit simhash over tokens (md5-derived bits)
  - n-gram Jaccard: token-trigram set overlap over blocked pairs
  - embedding cosine: see operators/similarity.py

The MinHash-LSH core, each step defined once here:

  band_stack       (id, shingles) -> pinned (id, band_key)
  cap_buckets      window-count bucket cap
  dropped_buckets  (band_key, bucket_size) of the buckets the cap drops
  bucket_pairs     band self-join (src < dst) or new x index join, distinct
  jaccard_pairs    exact shingle-Jaccard check, ratio rounded to 6 places

Callers: `minhash_lsh_pairs`, `lsh_dropped_buckets` and
`cross_corpus_near_dups` here, on document shingles (`_minhash_band_stack`
is their pinned front), and canonicalize.py's `lsh_candidate_edges` and
`canonicalize_mentions`, on surface shingles. `simhash_near_dup_pairs`
uses `cap_buckets` on its (band_idx, band_val) buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_AB, MINHASH_PRIME


def normalize_text(col):
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def char_shingles_col(col, k: int = 3):
    """Distinct k-char shingles as an array column (whole-stage codegen,
    no UDF): substring windows over 1..len-k+1."""
    return F.array_distinct(
        F.when(F.length(col) < k, F.array(col)).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - (k - 1)),
                lambda i: col.substr(i, F.lit(k)),
            )
        )
    )


def _minhash_struct_col(shingle_col: str, num_hashes: int):
    """Portable universal-hash MinHash (functions/hashing.py semantics):
    component i = min over shingles of (a_i * int(md5(sh)[:8],16) + b_i) mod P.
    All components in ONE fold: aggregate over the base-hash array (the
    md5 pass runs once per row), the bound element reused by every affine
    term, BIGINT integer math only. Built from one SQL string: one JVM call
    instead of one per expression node of a Column-built fold."""
    names = [f"mh{i}" for i in range(num_hashes)]
    init = ", ".join(f"'{n}', {MINHASH_PRIME}L" for n in names)
    merge = ", ".join(
        f"'{n}', least(acc.{n}, (h * {a}L + {b}L) % {MINHASH_PRIME}L)"
        for n, (a, b) in zip(names, MINHASH_AB)
    )
    return F.expr(
        f"aggregate(transform(`{shingle_col}`, "
        "x -> CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT)), "
        f"named_struct({init}), (acc, h) -> named_struct({merge}))"
    )


def with_minhash_signature(df, shingle_col: str, num_hashes: int = 16):
    """Adds mh0..mh{n-1} long columns in a single pass over the shingles.

    The struct is surfaced through F.inline(F.array(...)) — a generator is
    evaluated once per row, whereas selecting N getFields of a struct
    expression lets CollapseProject duplicate the whole aggregate (and its
    md5 pass) into every component column. No caching or checkpoint barrier
    is needed, so nothing large stays pinned in executor memory."""
    return df.select(
        *df.columns,
        F.inline(F.array(_minhash_struct_col(shingle_col, num_hashes))),
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) docs: (content_key, keep_id,
    dup_count). Hash-groupBy — the canonical exact-dedup at any scale."""
    return (
        df.select(
            F.md5(normalize_text(F.col(text_col))).alias("content_key"),
            F.col(id_col).cast("long").alias("doc_id"),
        )
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def band_stack(
    base: DataFrame, id_col: str, num_hashes: int, band_size: int
) -> DataFrame:
    """(id, shingles) -> (id, band_key), one row per (row, band), pinned.

    Band b's key is "b|mh..|mh.." over components b*band_size onward, the
    form of the DuckDB oracle's band keys (the band index prefix keeps
    bands from colliding with each other); a trailing partial band is not
    keyed. The stack is read by the bucket cap's window, its audit, and
    both sides of the bucket join, so it is pinned once (a lazy local
    checkpoint: it materializes on the first action that reads it)."""
    sig = with_minhash_signature(
        base.select(id_col, "shingles"), "shingles", num_hashes
    )

    def band_key(b: int) -> str:
        mhs = ", ".join(f"CAST(mh{i} AS STRING)" for i in range(b * band_size, (b + 1) * band_size))
        return f"concat_ws('|', '{b}', {mhs})"

    # one SQL string: one JVM call, not one per key component
    band_keys = ", ".join(band_key(b) for b in range(num_hashes // band_size))
    return sig.select(
        id_col, F.expr(f"explode(array({band_keys})) AS band_key")
    ).localCheckpoint(eager=False)


def cap_buckets(
    stacked: DataFrame, max_bucket: int | None, *keys: str
) -> DataFrame:
    """Drop the rows of buckets (keys, default band_key) holding more than
    `max_bucket` rows; None keeps every bucket (exact). One viral cluster
    sharing a bucket would otherwise make the bucket join quadratic. The
    count is a window over the bucket key, i.e. inside the same hash
    partitioning the bucket join needs: no extra exchange."""
    if max_bucket is None:
        return stacked
    keys = keys or ("band_key",)
    return (
        stacked.withColumn(
            "_bsz", F.count(F.lit(1)).over(Window.partitionBy(*keys))
        )
        .where(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def dropped_buckets(stacked: DataFrame, max_bucket: int) -> DataFrame:
    """(band_key, bucket_size) of the band buckets `cap_buckets` drops."""
    return (
        stacked.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket)
    )


def bucket_pairs(
    stacked: DataFrame,
    id_col: str,
    src: str,
    dst: str,
    fan_out: bool,
    other: DataFrame | None = None,
) -> DataFrame:
    """Distinct (src, dst) pairs sharing a band key: the band self-join of
    `stacked` keeping src < dst, or with `other` the stacked x other join.

    `fan_out` adds a keyed repartition to 4 x defaultParallelism ahead of
    the distinct: the pair stream explodes out of a small input, so AQE
    (sizing from the INPUT bytes) would coalesce the post-join stages to a
    few tasks; a user-specified partition count is never coalesced, and the
    distinct and the Jaccard joins inherit it. Document pairs want it; on
    the small surface graph of canonicalize it only adds tasks."""
    right = stacked if other is None else other
    pairs = stacked.select("band_key", F.col(id_col).alias(src)).join(
        right.select("band_key", F.col(id_col).alias(dst)), "band_key"
    )
    if other is None:
        pairs = pairs.where(F.col(src) < F.col(dst))
    pairs = pairs.select(src, dst)
    if fan_out:
        n_out = stacked.sparkSession.sparkContext.defaultParallelism * 4
        pairs = pairs.repartition(n_out, src, dst)
    return pairs.dropDuplicates([src, dst])


def jaccard_pairs(
    pairs: DataFrame,
    src_base: DataFrame,
    dst_base: DataFrame,
    id_col: str,
    src: str,
    dst: str,
    threshold: float,
) -> DataFrame:
    """(src, dst, jaccard): the pairs whose EXACT shingle-set Jaccard is
    >= threshold, read from each side's (id, shingles) table. The threshold
    is applied to the unrounded ratio, as the SQL oracles do; only the
    output column is rounded to 6 places."""
    src_sh = src_base.select(
        F.col(id_col).alias(src), F.col("shingles").alias("_src_sh")
    )
    dst_sh = dst_base.select(
        F.col(id_col).alias(dst), F.col("shingles").alias("_dst_sh")
    )
    inter = F.size(F.array_intersect(F.col("_src_sh"), F.col("_dst_sh")))
    union = F.size(F.col("_src_sh")) + F.size(F.col("_dst_sh")) - inter
    return (
        pairs.join(src_sh, src)
        .join(dst_sh, dst)
        .withColumn("_j", inter / union)
        .where(F.col("_j") >= threshold)
        .select(src, dst, F.round(F.col("_j"), 6).alias("jaccard"))
    )


def _minhash_band_stack(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    band_size: int,
) -> tuple[DataFrame, DataFrame]:
    """The document front of the core: (base, stacked), where base is the
    pinned (doc_id, shingles) of the normalized documents — the band stack
    and both sides of the Jaccard check read it — and stacked its
    `band_stack`.

    Pinning base also keeps Catalyst's CollapseProject (which treats
    transform() lambdas as cheap) from inlining the shingle expression into
    every consumer. The normalize regex is projected to a plain column
    FIRST: fed as an expression, char_shingles_col references it per
    shingle ELEMENT and the regex would run ~len(text) times per document
    (measured 3.6x on the whole base pass); a multiply-referenced non-cheap
    alias is kept out of line by CollapseProject, so this stays one regex
    per row."""
    from ..plans.skew import ensure_parallelism

    base = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            normalize_text(F.col(text_col)).alias("_norm"),
        )
        .select(
            "doc_id",
            char_shingles_col(F.col("_norm"), shingle_k).alias("shingles"),
        )
        .localCheckpoint(eager=False)
    )
    return base, band_stack(base, "doc_id", num_hashes, band_size)


def lsh_dropped_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """(band_key, bucket_size) of the band buckets `minhash_lsh_pairs` drops
    under the same parameters — write this next to the pair output so capped
    boilerplate clusters are auditable rather than silently skipped."""
    _, stacked = _minhash_band_stack(
        df, id_col, text_col, shingle_k, num_hashes, band_size
    )
    return dropped_buckets(stacked, max_bucket)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    band_size: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (src_id < dst_id) verified by shingle
    Jaccard. shingle -> minhash -> band -> bucket-join -> exact verify: the
    standard web-dedup pipeline, DataFrame ops only.

    `max_bucket=None` (the default) is EXACT: every band bucket self-joins,
    and the result is bit-identical to the SQL oracle. At corpus scale, pass
    a cap: band buckets larger than `max_bucket` are dropped before the
    self-join (`cap_buckets`, shared with canonicalize) — one viral
    boilerplate cluster sharing a band key would otherwise make the bucket
    self-join quadratic. Dropped buckets are observable, not silent —
    `lsh_dropped_buckets` returns their (band_key, size) for lineage."""
    base, stacked = _minhash_band_stack(
        df, id_col, text_col, shingle_k, num_hashes, band_size
    )
    pairs = bucket_pairs(
        cap_buckets(stacked, max_bucket), "doc_id", "src_id", "dst_id",
        fan_out=True,
    )
    return jaccard_pairs(
        pairs, base, base, "doc_id", "src_id", "dst_id", jaccard_threshold
    )


def _hex4_to_int(hexcol):
    """First 4 hex chars -> 16-bit int (JVM-side base conversion; the DuckDB
    oracle does the same with per-char strpos math)."""
    return F.conv(F.substring(hexcol, 1, 4), 16, 10).cast("int")


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash) — 16-bit simhash over whitespace tokens.

    Same explode + one-groupBy-pass shape as simhash60 (see its docstring
    for the measurements): 16 plain SUM aggregates with map-side partial
    aggregation in whole-stage codegen. The previous 16 per-row aggregate()
    HOF folds evaluated interpreted, one pass per bit. Values are
    identical — bit b of a document is sign(sum over its tokens of +/-1),
    however the sum is grouped."""
    from ..plans.skew import ensure_parallelism

    ex = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("tok"),
    ).select("doc_id", _hex4_to_int(F.md5("tok")).alias("h"))
    sums = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(16)
        ]
    )
    sim = None
    for b in range(16):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("int").alias("simhash"))


def simhash60(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash) — 60-bit simhash over whitespace tokens, the
    corpus-scale fingerprint width (Manku et al. use 64; 60 here keeps
    the value inside a signed BIGINT on BOTH engines: 15 md5 hex chars
    parse exactly in Spark's conv and DuckDB's '0x' cast).

    Formulation: explode the token hashes and compute all 60 signed
    bitsums as plain aggregates in ONE groupBy pass — whole-stage codegen
    with map-side partial aggregation. The HOF alternatives measured
    slower here: a 60-counter array accumulator copies the array per
    token (5.5 s warm at sf0.1), 60 size(filter(...)) passes evaluate
    interpreted (3.0 s); this shape runs the same data in ~1 s and is
    the one that scales (the shuffle carries one 60-column row per doc)."""
    ex = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("tok"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    sums = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1
                ).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(60)
        ]
    )
    sim = None
    for b in range(60):
        term = F.when(
            F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = None,
    sig_bits: int = 16,
) -> DataFrame:
    """Banded SimHash near-duplicate pairs. Corpus-scale callers should
    use `sig_bits=60` (the production fingerprint width; the 16-bit
    default keeps the compact demo/oracle regime where per-band bucket
    cardinality is tiny).

    Scheme (Manku et al. WWW'07 rotation/banding): any pair within hamming distance
    d < n_bands must agree EXACTLY on at least one of the n_bands
    bit-bands (pigeonhole), so a bucket self-join per band finds every
    such pair with no all-pairs comparison; candidates are then verified
    with the exact popcount of the XOR. Requires max_hamming < n_bands
    for exact recall (asserted).

    Scale shape mirrors minhash_lsh_pairs: only (doc_id, band, simhash)
    rides the bucket shuffle; `max_bucket` caps degenerate buckets inside
    the same shuffle (None = exact, the oracle-gated default).

    `sig_bits` picks the fingerprint width: 16 (simhash16 — compact, but
    per-band bucket cardinality 2^(16/n_bands) goes quadratic at corpus
    scale) or 60 (simhash60 — the production width; 15-bit bands give
    32k bucket values per band)."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands>{max_hamming} for "
            "pigeonhole-exact banding"
        )
    if sig_bits not in (16, 60):
        raise ValueError("sig_bits must be 16 or 60")
    band_bits = sig_bits // n_bands
    mask = (1 << band_bits) - 1
    sig_fn = simhash60 if sig_bits == 60 else simhash16
    # both sides of the band self-join reference the signature table —
    # pin it once or the whole hash+bitsum pass runs per side
    s = sig_fn(df, id_col, text_col).localCheckpoint(eager=False)
    bands = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "simhash", "bd.band_idx", "bd.band_val")
    bands = cap_buckets(bands, max_bucket, "band_idx", "band_val")
    # explicit keyed repartition of the probe side: the bucket self-join
    # fans out quadratically per bucket from a tiny input, so AQE (sizing
    # from input bytes) would coalesce the pair-generating stage to a
    # couple of tasks; a user partition count is never coalesced and the
    # join + downstream verify/dedup inherit it
    n_out = df.sparkSession.sparkContext.defaultParallelism * 4
    a = bands.select(
        "band_idx",
        "band_val",
        F.col("doc_id").alias("src_id"),
        F.col("simhash").alias("src_sim"),
    ).repartition(n_out, "band_idx", "band_val")
    b_ = bands.select(
        "band_idx",
        "band_val",
        F.col("doc_id").alias("dst_id"),
        F.col("simhash").alias("dst_sim"),
    )
    return (
        a.join(b_, ["band_idx", "band_val"])
        .where(F.col("src_id") < F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            F.bit_count(
                F.col("src_sim").bitwiseXOR(F.col("dst_sim"))
            ).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["src_id", "dst_id"])
    )


def cross_corpus_near_dups(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
    band_size: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicates of NEW documents against an existing INDEX corpus —
    the per-crawl dedup step of an incremental ingest: before new data
    joins the training set, anything already (nearly) in the set is
    flagged. Same banded MinHash shape as minhash_lsh_pairs, but the
    bucket join is new×index (never new×new or index×index), so the cost
    is driven by band collisions ACROSS the two sides only.

    Returns (new_id, index_id, jaccard) for verified pairs over the
    threshold. `max_bucket` caps each side's contribution to a band
    bucket (boilerplate shared across crawls is the usual degenerate key);
    drops are auditable via lsh_dropped_buckets on each side (a bucket's
    size in the union can exceed the cap while neither side's does).
    """
    new_base, new_stack = _minhash_band_stack(
        new_docs, id_col, text_col, shingle_k, num_hashes, band_size
    )
    idx_base, idx_stack = _minhash_band_stack(
        index_docs, id_col, text_col, shingle_k, num_hashes, band_size
    )
    pairs = bucket_pairs(
        cap_buckets(new_stack, max_bucket), "doc_id", "new_id", "index_id",
        fan_out=True, other=cap_buckets(idx_stack, max_bucket),
    )
    return jaccard_pairs(
        pairs, new_base, idx_base, "doc_id", "new_id", "index_id",
        jaccard_threshold,
    )


def _distinct_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    block_col: str | None,
) -> DataFrame:
    """(doc_id, block, gram): distinct token n-grams per document."""
    toks = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *( [F.col(block_col).alias("block")] if block_col else [F.lit(1).alias("block")] ),
        F.split(normalize_text(F.col(text_col)), " ").alias("tokens"),
    )
    return toks.select(
        "doc_id",
        "block",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("tokens") - n, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice(F.col("tokens"), i + 1, n)),
                )
            )
        ).alias("gram"),
    )


def ngram_dropped_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_gram_freq: int = 1000,
) -> DataFrame:
    """(gram, freq) of the posting lists `ngram_jaccard_pairs` excludes
    under the same `max_gram_freq` — the inverted-index twin of
    lsh_dropped_buckets, so capped boilerplate grams are auditable rather
    than silently skipped."""
    grams = _distinct_grams(df, id_col, text_col, n, None)
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") > max_gram_freq)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    block_col: str | None = None,
    threshold: float = 0.3,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Token n-gram Jaccard over blocked pairs: explode distinct n-grams,
    self-join on n-gram (inverted-index join — never a cross join), count
    shared per pair, Jaccard from per-doc distinct counts.

    `max_gram_freq` caps the inverted-index posting list: an n-gram shared
    by more than that many docs (boilerplate, license headers) is excluded
    from the JOIN — one viral gram would otherwise contribute a quadratic
    pair blowup at corpus scale. Per-doc gram COUNTS still include capped
    grams, so the Jaccard denominator is exact; only the shared-count is
    a lower bound for pairs whose overlap is mostly boilerplate — the
    standard trade in web-scale near-dup mining. None = exact (default:
    correctness-gated queries stay bit-exact vs the SQL oracle)."""
    from ..plans.skew import ensure_parallelism

    # fan the scan out (a single-row-group parquet file plans as 1-2 tasks)
    # and pin the gram table: sizes, the optional frequency cap, and BOTH
    # pair-join sides read it — unpinned, the normalize/split/explode
    # subtree runs once per consumer
    grams = _distinct_grams(
        ensure_parallelism(df), id_col, text_col, n, block_col
    ).localCheckpoint(eager=False)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    if max_gram_freq is not None:
        freqs = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_gf"))
        grams = grams.join(
            freqs.where(F.col("_gf") <= max_gram_freq), "gram"
        ).drop("_gf")
    # the inverted-index join fans out quadratically per posting list, so
    # probe-side tasks must stay bounded regardless of how small the INPUT
    # shuffle looks to AQE: a user-specified keyed repartition is never
    # coalesced, and the join reuses its partitioning (one exchange)
    n_out = df.sparkSession.sparkContext.defaultParallelism * 4
    a = grams.select(
        F.col("doc_id").alias("src_id"), "block", "gram"
    ).repartition(n_out, "gram", "block")
    # shuffled-hash, not broadcast: the gram table is corpus-sized (every
    # distinct n-gram x doc), so a broadcast build is a serial bottleneck
    # locally and impossible at 100 TB; the per-partition hash build is
    # parallel and the join reuses a's explicit partitioning
    b = grams.select(
        F.col("doc_id").alias("dst_id"),
        F.col("block").alias("block2"),
        F.col("gram").alias("gram2"),
    ).hint("shuffle_hash")
    shared = (
        a.join(b, (a.gram == b.gram2) & (a.block == b.block2) & (a.src_id < b.dst_id))
        .groupBy("src_id", "dst_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("src_id"), F.col("n_grams").alias("src_n"))
    sb = sizes.select(F.col("doc_id").alias("dst_id"), F.col("n_grams").alias("dst_n"))
    return (
        shared.join(sa, "src_id")
        .join(sb, "dst_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("src_n") + F.col("dst_n") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("src_id", "dst_id", "shared", "jaccard")
    )
