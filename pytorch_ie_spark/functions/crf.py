"""Linear-chain CRF decoding (Viterbi) with deterministic mock potentials.

Reference analog: models/token_classification_with_seq2seq_encoder_and_crf.py
(torchcrf decode over emission logits with learned transitions). The
container has no torch, so the potentials here are deterministic integers
— emissions from md5 hex slices of the token (one md5 per token, tag i
reads slice [8i, 8i+8)), transitions a fixed BIO-constrained matrix — but
the DECODER is the real algorithm: max-sum Viterbi with backtracking,
first-index tie-breaking.

Three synchronized implementations, equality-tested:
  - ``viterbi_decode`` (Python, inside the model UDF): full best path,
  - ``viterbi_score_col`` (JVM array fold, no UDF): best-path SCORE and
    argmax last tag — the oracle-gated surface,
  - the DuckDB twin in queries.py (list_reduce over emission vectors)
    computes the identical fold.
"""

from __future__ import annotations

import hashlib

TAGS = ["O", "B-ENT", "I-ENT"]
EMIT_MOD = 1000

#: BIO-constrained transitions: I-ENT only after B-ENT/I-ENT
FORBIDDEN = -1_000_000
TRANS = [
    # from O      from B-ENT  from I-ENT   (TRANS[from][to])
    [10, 5, FORBIDDEN],  # from O      -> O, B, I
    [5, 3, 8],           # from B-ENT  -> O, B, I
    [5, 3, 8],           # from I-ENT  -> O, B, I
]
#: start scores: a sequence cannot open with I-ENT
START = [0, 0, FORBIDDEN]


def emission_scores(token: str) -> list[int]:
    """One md5 per token; tag i reads hex slice [8i, 8i+8) mod EMIT_MOD —
    identical in Spark (conv/substring) and DuckDB ('0x'||substr)."""
    h = hashlib.md5(token.encode()).hexdigest()
    return [
        int(h[8 * i : 8 * i + 8], 16) % EMIT_MOD for i in range(len(TAGS))
    ]


def viterbi_decode(tokens: list[str]) -> tuple[list[str], int]:
    """Best tag sequence + its score (max-sum Viterbi, ties -> lowest tag
    index, matching list_position/array_position first-match)."""
    n_tags = len(TAGS)
    if not tokens:
        return [], 0
    e0 = emission_scores(tokens[0])
    score = [START[s] + e0[s] for s in range(n_tags)]
    back: list[list[int]] = []
    for tok in tokens[1:]:
        em = emission_scores(tok)
        nxt = []
        ptr = []
        for s in range(n_tags):
            best_prev, best_val = 0, None
            for sp in range(n_tags):
                v = score[sp] + TRANS[sp][s]
                if best_val is None or v > best_val:
                    best_val, best_prev = v, sp
            nxt.append(best_val + em[s])
            ptr.append(best_prev)
        score = nxt
        back.append(ptr)
    last = max(range(n_tags), key=lambda s: (score[s], -s))
    total = score[last]
    path = [last]
    for ptr in reversed(back):
        path.append(ptr[path[-1]])
    path.reverse()
    return [TAGS[s] for s in path], total


def viterbi_score_col(toks_col):
    """JVM twin of the Viterbi forward pass: per-row (score vector) fold
    over the token array; returns (best_score, best_last_tag 1-based,
    first index on ties) as a struct column. No UDF — one md5 per token,
    whole-stage codegen arithmetic."""
    from pyspark.sql import functions as F

    n_tags = len(TAGS)

    def emit_vec(h):
        return F.array(
            *[
                (
                    F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
                    % EMIT_MOD
                )
                for i in range(n_tags)
            ]
        )

    hashes = F.transform(toks_col, lambda t: F.md5(t))
    vecs = F.transform(hashes, emit_vec)
    init = F.zip_with(
        F.element_at(vecs, 1),
        F.expr("array(" + ", ".join(f"{START[s]}L" for s in range(n_tags)) + ")"),
        lambda e, st: e + st,
    )
    rest = F.slice(vecs, 2, F.greatest(F.size(vecs) - 1, F.lit(0)))

    def step(acc, v):
        return F.array(
            *[
                F.greatest(
                    *[
                        F.element_at(acc, sp + 1) + F.lit(TRANS[sp][s])
                        for sp in range(n_tags)
                    ]
                )
                + F.element_at(v, s + 1)
                for s in range(n_tags)
            ]
        )

    final = F.aggregate(rest, init, step)
    best = F.array_max(final)
    return F.struct(
        best.alias("viterbi_score"),
        F.array_position(final, best).cast("long").alias("best_last_tag"),
    )
