"""The per-Arrow-batch extraction kernel under the staged mention and
relation operators (operators/mentions.py, relations.py) and the fused
extractor (operators/extract.py).

It is the reference's in-process encode -> model -> decode
(src/pytorch_ie/pipeline.py:309-431) applied to one Arrow batch at a time,
so an operator crosses into Python once per batch and ships no token arrays
between stages:

  - ``batch_mentions``: tokenize every document of the batch, enumerate
    its windows, tag ALL windows of the batch in one ``predict_tags`` call,
    mask each window to its label slice and BIO-decode (window.py:4-27
    exactly-once labels, span.py:41-118 decode). Windows are tagged in
    length order and the tags restored to batch order, so a model that
    pads to the longest sequence of a chunk (HF) pads similar lengths
    together — the reference's dynamic padding, without a cluster-wide
    length-bucketing shuffle.
  - ``classify_pairs``: enumerate each document's ordered candidate pairs
    with a numpy inner-gap mask (``pair_indices``) and classify all pairs
    of the batch in one ``predict_pairs`` call.
"""

from __future__ import annotations

import numpy as np

from ..functions.hashing import mention_id
from ..functions.span import bio_tags_to_spans
from ..functions.tokenize import tokenize_with_offsets
from ..functions.window import enumerate_windows, window_around_slice


def batch_mentions(ner, pdf, max_window: int, window_overlap: int) -> list:
    """One Arrow batch of documents (doc_id, text, content_sha256) ->
    [(doc_id, text, sha, mentions)], one per document, where mentions is
    sorted and unique: (start, end, label, mention_id, surface) with char
    offsets into the text and the token-joined surface."""
    docs = [tokenize_with_offsets(text or "") for text in pdf["text"]]
    windows = [
        (d, ts, te, ls, le)
        for d, toks in enumerate(docs)
        for (ts, te), (ls, le) in enumerate_windows(
            len(toks), max_window, window_overlap
        )
    ]
    order = sorted(range(len(windows)), key=lambda i: windows[i][2] - windows[i][1])
    tags = [None] * len(windows)
    if windows:
        batch = [
            [t[0] for t in docs[d][ts:te]]
            for d, ts, te, _, _ in (windows[i] for i in order)
        ]
        for i, window_tags in zip(order, ner.predict_tags(batch)):
            tags[i] = window_tags
    spans = [set() for _ in docs]
    for (d, ts, te, ls, le), window_tags in zip(windows, tags):
        # restrict decoding to the label slice: mask context tokens
        masked = [
            tag if ls <= i < le else "O" for i, tag in enumerate(window_tags)
        ]
        for label, (s_tok, e_tok) in bio_tags_to_spans(masked):
            spans[d].add((ts + s_tok, ts + e_tok, label))
    out = []
    for doc_id, text, sha, toks, doc_spans in zip(
        pdf["doc_id"], pdf["text"], pdf["content_sha256"], docs, spans
    ):
        ms = []
        for s_tok, e_tok, label in doc_spans:
            cs, ce = toks[s_tok][1], toks[e_tok][2]
            surface = " ".join(t[0] for t in toks[s_tok : e_tok + 1])
            ms.append((cs, ce, label, mention_id(doc_id, cs, ce, label), surface))
        out.append((doc_id, text, sha, sorted(ms)))
    return out


def pair_indices(starts, ends, max_distance: int | None):
    """(head, tail) index arrays of every ordered pair of distinct mentions
    — BOTH directions, since reversed relations such as org:founded_by need
    head-after-tail — whose inner character gap is at most max_distance."""
    s, e = np.asarray(starts), np.asarray(ends)
    mask = ~np.eye(len(s), dtype=bool)
    if max_distance is not None:
        inner_gap = np.maximum(
            0,
            np.maximum(s[:, None], s[None, :]) - np.minimum(e[:, None], e[None, :]),
        )
        mask &= inner_gap <= max_distance
    return np.nonzero(mask)


def classify_pairs(
    rel, docs, max_distance: int | None, max_window: int | None = None
) -> tuple[list, list, list, list]:
    """Candidate pairs of a batch of documents, classified in one
    ``predict_pairs`` call. `docs` holds (doc_id, text, sha, mentions) with
    mentions sorted and unique by mention_id: (start, end, label,
    mention_id, ...). Returns parallel lists (docs, heads, tails, preds):
    pair k is the input document docs[k] with its mention tuples heads[k]
    and tails[k], classified as preds[k] = (label, score).

    When `max_window` is set, each candidate's context is restricted to a
    window of that many chars centered on the (head..tail) required slice
    — the reference's window-around-candidate
    (re_text_classification_with_indices.py:1071-1093): the model sees the
    windowed text with shifted span offsets; candidates whose args alone
    exceed the window are skipped (skipped_too_long)."""
    texts, mlists, heads, tails = [], [], [], []
    pair_docs, head_ms, tail_ms = [], [], []
    for doc in docs:
        text, ms = doc[1], doc[3]
        if len(ms) < 2:
            continue
        spans = [m[:2] for m in ms]
        mlist = [m[:3] for m in ms]
        h_idx, t_idx = pair_indices(
            [s for s, _ in spans], [e for _, e in spans], max_distance
        )
        h_idx, t_idx = h_idx.tolist(), t_idx.tolist()
        if max_window is None:
            texts += [text] * len(h_idx)
            mlists += [mlist] * len(h_idx)
            heads += [spans[h] for h in h_idx]
            tails += [spans[t] for t in t_idx]
        else:
            kept = []
            for h, t in zip(h_idx, t_idx):
                (hs, he), (ts, te) = spans[h], spans[t]
                win = window_around_slice(
                    (min(hs, ts), max(he, te)), max_window, len(text)
                )
                if win is None:  # skipped_too_long
                    continue
                ws, we = win
                texts.append(text[ws:we])
                mlists.append(
                    [(s - ws, e - ws, lab) for s, e, lab in mlist if s >= ws and e <= we]
                )
                heads.append((hs - ws, he - ws))
                tails.append((ts - ws, te - ws))
                kept.append((h, t))
            h_idx, t_idx = [h for h, _ in kept], [t for _, t in kept]
        pair_docs += [doc] * len(h_idx)
        head_ms += [ms[h] for h in h_idx]
        tail_ms += [ms[t] for t in t_idx]
    if not head_ms:
        return [], [], [], []
    preds = rel.predict_pairs(
        texts,
        mlists,
        heads,
        tails,
        head_labels=[m[2] for m in head_ms],
        tail_labels=[m[2] for m in tail_ms],
    )
    return pair_docs, head_ms, tail_ms, preds
