"""Seeded input generator for the benchmark.

Every input is a pure function of the seed: the vocabulary and table shapes
come from `vocab.json` (statistics of the sf0.1 testdata tables), the sizes
are the constants below. Two corpora are generated:

* the KG corpus (`kg_corpus`): documents of ~165 tokens, long enough that NER
  windowing (128 tokens) splits them, over the sf0.1 vocabulary with planted
  entity surfaces mixed in. The planted surfaces come in variant families
  (a base token plus variants with one trailing character added), which the
  LSH canonicalizer at Jaccard 0.8 should merge; the family of every planted
  surface is the ground truth for canonicalize recall and precision.
* the query tables (`query_tables`): `documents`, `embeddings` and `events`
  in the sf0.1 schemas, with the sf0.1 share of planted near-duplicate
  documents (a copy of another document plus the marker token).

Run as a script to write the inputs of one seed to a directory:

    python3 perfbench/inputs.py --seed 7 --out /tmp/inputs
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = json.load(open(os.path.join(os.path.dirname(__file__), "vocab.json")))

#: token count range of a KG document (uniform)
KG_DOC_TOKENS = (130, 200)
#: share of KG tokens replaced by a planted entity surface
KG_PLANTED_SHARE = 0.06
#: planted variant families; each has a base surface and 1-3 variants
KG_FAMILIES = 1200
#: labels the cooccurrence relation model has rules for
KG_LABELS = ("ENGINE", "OP", "ALGO", "ACTOR")
#: the default gazetteer entries, kept so relation density follows sf0.1
BASE_GAZETTEER = {
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
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, input stream)."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def _word_sampler(rng: np.random.Generator):
    words = np.array(sorted(VOCAB["words"]))
    weights = np.array([VOCAB["words"][w] for w in words], dtype=float)
    weights /= weights.sum()
    return lambda n: words[rng.choice(len(words), size=n, p=weights)]


def planted_families(seed: int, n_families: int = KG_FAMILIES) -> dict[str, tuple[int, str]]:
    """surface -> (family id, label). A base is a vocabulary word plus seven
    random letters, so two families share at most the word's shingles and
    never reach Jaccard 0.8; a variant adds one trailing letter to the base
    (Jaccard 10/11 to the base for a 12-letter base)."""
    rng = _rng(seed, "families")
    vocab = sorted(VOCAB["words"])
    out: dict[str, tuple[int, str]] = {}
    fam = 0
    while fam < n_families:
        base = vocab[rng.integers(len(vocab))] + "".join(rng.choice(_LETTERS, 7))
        n_var = int(rng.integers(1, 4))
        tails = rng.choice(_LETTERS, n_var, replace=False)
        surfaces = [base] + [base + t for t in tails]
        if any(s in out for s in surfaces):
            continue
        label = KG_LABELS[rng.integers(len(KG_LABELS))]
        for s in surfaces:
            out[s] = (fam, label)
        fam += 1
    return out


def kg_gazetteer(families: dict[str, tuple[int, str]]) -> dict[str, str]:
    """The `gazetteer_ner` config: default entries plus every planted surface."""
    gaz = dict(BASE_GAZETTEER)
    gaz.update({s: label for s, (_fam, label) in families.items()})
    return gaz


def kg_corpus(seed: int, n_docs: int, stream: str = "kg") -> pa.Table:
    """Source-file rows (repo, path, commit, lang, content) of the KG corpus;
    `stream` keeps corpora of one seed but different roles independent."""
    rng = _rng(seed, stream)
    words = _word_sampler(rng)
    surfaces = np.array(sorted(planted_families(seed)))
    langs = sorted(VOCAB["langs"])
    lang_p = np.array([VOCAB["langs"][k] for k in langs], dtype=float)
    lang_p /= lang_p.sum()
    lo, hi = KG_DOC_TOKENS
    lengths = rng.integers(lo, hi + 1, n_docs)
    total = int(lengths.sum())
    toks = words(total).astype(object)
    planted = rng.random(total) < KG_PLANTED_SHARE
    toks[planted] = surfaces[rng.integers(len(surfaces), size=int(planted.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    return pa.table(
        {
            "repo": [f"src{i}" for i in rng.integers(VOCAB["sources"], size=n_docs)],
            "path": [f"doc_{i}.txt" for i in range(n_docs)],
            "commit": [hashlib.md5(t.encode()).hexdigest() for t in texts],
            "lang": [langs[i] for i in rng.choice(len(langs), n_docs, p=lang_p)],
            "content": texts,
        }
    )


def query_tables(seed: int, n_docs: int, n_vectors: int, n_events: int) -> dict[str, pa.Table]:
    """`documents`, `embeddings` and `events` in the sf0.1 schemas."""
    return {
        "documents": _documents(_rng(seed, "documents"), n_docs),
        "embeddings": _embeddings(_rng(seed, "embeddings"), n_vectors),
        "events": _events(_rng(seed, "events"), n_events),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = _word_sampler(rng)
    lo, hi = VOCAB["doc_tokens"]
    texts = [" ".join(words(int(k))) for k in rng.integers(lo, hi + 1, n)]
    # planted near-duplicates: a copy of an earlier document plus the marker
    for i in np.flatnonzero(rng.random(n) < VOCAB["near_dup_share"]):
        if i > 0:
            texts[i] = texts[int(rng.integers(i))] + " " + VOCAB["near_dup_marker"]
    langs = sorted(VOCAB["langs"])
    lang_p = np.array([VOCAB["langs"][k] for k in langs], dtype=float)
    lang_p /= lang_p.sum()
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [langs[i] for i in rng.choice(len(langs), n, p=lang_p)],
            "source": [f"src{i}" for i in rng.integers(VOCAB["sources"], size=n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    dim = VOCAB["embedding_dim"]
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(VOCAB["embedding_labels"], size=n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = dt.datetime(2024, 1, 1)
    span_us = VOCAB["event_days"] * 86_400_000_000
    ts = np.sort(rng.integers(span_us, size=n))
    lo, hi = VOCAB["event_prop_k"]
    types = VOCAB["event_types"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array([start + dt.timedelta(microseconds=int(u)) for u in ts], pa.timestamp("us")),
            "user_id": pa.array(rng.integers(VOCAB["event_users"], size=n), pa.int64()),
            "event_type": [types[i] for i in rng.integers(len(types), size=n)],
            "value": np.round(rng.exponential(VOCAB["event_value_mean"], n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(lo, hi, size=n)],
        }
    )


def write_table(table: pa.Table, path: str) -> str:
    """One parquet file, written byte-for-byte reproducibly."""
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return path


def main() -> None:
    from workloads import SIZES

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    write_table(kg_corpus(args.seed, SIZES["kg_docs"]), os.path.join(args.out, "kg_sources.parquet"))
    for name, t in query_tables(
        args.seed, SIZES["query_docs"], SIZES["query_vectors"], SIZES["query_events"]
    ).items():
        write_table(t, os.path.join(args.out, f"{name}.parquet"))
    fams = planted_families(args.seed)
    with open(os.path.join(args.out, "families.json"), "w") as f:
        json.dump({s: fam for s, (fam, _label) in sorted(fams.items())}, f, sort_keys=True)


if __name__ == "__main__":
    main()
