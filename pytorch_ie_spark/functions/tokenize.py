"""Deterministic tokenization with character offsets.

Plays the role of the HF fast tokenizer in the reference pipeline
(reference: src/pytorch_ie/taskmodules/transformer_token_classification.py:142-151
uses AutoTokenizer with return_offsets_mapping). The container has no
`transformers`, so the default tokenizer is a regex word/punct tokenizer
that produces the same contract: tokens + (start, end) char offsets,
end-exclusive, plus char->token alignment helpers
(reference: src/pytorch_ie/utils/document.py:278-299 get_aligned_token_span).

All functions are pure and vectorization-friendly: they are called from
inside Arrow-batched pandas UDFs, never per-row from the driver.
"""

from __future__ import annotations

import re
from typing import Optional

TOKEN_RE = re.compile(r"\w+|[^\w\s]")
SENTENCE_RE = re.compile(r"[^.!?]*[.!?]?")


def tokenize_with_offsets(text: str) -> list[tuple[str, int, int]]:
    """Split into word/punctuation tokens with end-exclusive char offsets."""
    return [(m.group(0), m.start(), m.end()) for m in TOKEN_RE.finditer(text)]


def sentence_spans(text: str) -> list[tuple[int, int]]:
    """Sentence partition spans: '.'/'!'/'?'-terminated, end-exclusive,
    trailing space excluded — matches the fixture corpus sentence layout
    (reference: tests/fixtures/datasets/json/train.json)."""
    spans = []
    pos = 0
    n = len(text)
    while pos < n:
        # skip inter-sentence whitespace
        while pos < n and text[pos].isspace():
            pos += 1
        if pos >= n:
            break
        end = pos
        while end < n and text[end] not in ".!?":
            end += 1
        if end < n:
            end += 1  # include the terminator
        spans.append((pos, end))
        pos = end
    return spans


def char_span_to_token_span(
    token_starts: list[int],
    token_ends: list[int],
    start: int,
    end: int,
) -> Optional[tuple[int, int]]:
    """Map a char span to the (start_tok, end_tok_exclusive) token slice.

    Inward-search alignment: the returned slice covers exactly the tokens
    fully or partially inside [start, end). Returns None if no token
    overlaps (semantics of get_aligned_token_span,
    reference: src/pytorch_ie/utils/document.py:278-299).
    """
    first = None
    last = None
    for i, (ts, te) in enumerate(zip(token_starts, token_ends)):
        if te <= start:
            continue
        if ts >= end:
            break
        if first is None:
            first = i
        last = i
    if first is None or last is None:
        return None
    return first, last + 1


def char_to_token_mapper(
    token_starts: list[int],
    token_ends: list[int],
    window: Optional[tuple[int, int]] = None,
):
    """char index -> token index closure with the reference's out-of-window
    encoding (utils/span.py:235-247): -1 for chars before the window, -2
    for chars at/after its end, None for chars inside no token (e.g.
    whitespace). `window` is a char range; None = unwindowed."""
    index: dict[int, int] = {}
    for i, (ts, te) in enumerate(zip(token_starts, token_ends)):
        for c in range(ts, te):
            index[c] = i

    def mapper(char_idx: int) -> Optional[int]:
        if window is not None and char_idx < window[0]:
            return -1
        if window is not None and char_idx >= window[1]:
            return -2
        return index.get(char_idx)

    return mapper


def get_token_slice(
    char_slice: tuple[int, int],
    mapper,
    char_offset: int = 0,
) -> Optional[tuple[int, int]]:
    """Char slice -> exact token slice via a char_to_token_mapper; None when
    either boundary is unmapped OR out-of-window (negative code) — a
    negative index would silently slice from the wrong end otherwise
    (utils/span.py:219-232 with the -1/-2 sentinels treated as misses)."""
    start = mapper(char_slice[0] - char_offset)
    before_end = mapper(char_slice[1] - 1 - char_offset)
    if start is None or before_end is None or start < 0 or before_end < 0:
        return None
    return start, before_end + 1


def token_span_to_char_span(
    token_starts: list[int],
    token_ends: list[int],
    tok_start: int,
    tok_end_exclusive: int,
) -> tuple[int, int]:
    """Inverse mapping: token slice -> char span (end-exclusive)."""
    return token_starts[tok_start], token_ends[tok_end_exclusive - 1]
