"""Portable, engine-independent hashing primitives.

Everything is built on md5 hex digests so the exact same values are
computable in Spark SQL (``md5()``), DuckDB (``md5()``), and Python
(``hashlib.md5``) — which is what lets every dedup/canonicalization
operator have a bit-exact SQL oracle.

MinHash uses the universal-hash family over ONE md5 base hash per shingle:
``base(x) = int(md5(x)[:8], 16)`` (32-bit), component
``mh_i = min over shingles of (a_i * base + b_i) mod P`` with P the smallest
prime above 2^32 — the same construction Spark MLlib's MinHashLSH uses. One
digest per shingle (vs one per shingle *per salt*) is the dominant-cost win;
the affine transforms are integer math expressible identically in Spark SQL,
DuckDB ('0x'||hex cast), and Python. All products stay below 2^62 (a < 2^30,
base < 2^32) so ANSI-mode Spark and DuckDB BIGINT agree bit-for-bit.
"""

from __future__ import annotations

import hashlib

import numpy as np

#: smallest prime > 2^32 (MLlib MinHashLSH uses the same modulus trick)
MINHASH_PRIME = 4294967311


def _minhash_ab(i: int) -> tuple[int, int]:
    """Deterministic (a, b) per component, derived from md5 so every engine
    mirror hardwires identical literals. a is odd and < 2^30 to keep
    a * base < 2^62 (no 64-bit overflow in ANSI Spark / DuckDB)."""
    h = hashlib.md5(f"minhash-{i}".encode()).hexdigest()
    a = (int(h[:8], 16) % (2**30)) | 1
    b = int(h[8:16], 16) % MINHASH_PRIME
    return a, b


#: 64 precomputed affine constants — index i serves signature component i
MINHASH_AB = [_minhash_ab(i) for i in range(64)]


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def mention_id(doc_id: str, start: int, end: int, label: str) -> str:
    """Stable annotation identity (SURVEY.md §7 'Annotation identity')."""
    return sha256_hex(f"{doc_id}|{start}|{end}|{label}")[:32]


def char_shingles(text: str, k: int = 5) -> list[str]:
    """Distinct k-char shingles of the lowercased text."""
    t = text.lower()
    if len(t) < k:
        return [t] if t else []
    return sorted({t[i : i + k] for i in range(len(t) - k + 1)})


def minhash_signature(shingles: list[str], num_hashes: int = 16) -> list[int]:
    """Universal-hash minhash: mh_i = min over shingles of
    (a_i * int(md5(sh)[:8], 16) + b_i) mod MINHASH_PRIME. One md5 per shingle
    total; the per-component work is integer math only."""
    if not shingles:
        return [None] * num_hashes
    base = [int(md5_hex(sh)[:8], 16) for sh in shingles]
    return [
        min((a * h + b) % MINHASH_PRIME for h in base)
        for a, b in MINHASH_AB[:num_hashes]
    ]


def minhash_matrix(shingle_lists: list[list[str]], num_hashes: int = 16) -> np.ndarray:
    """Row r is `minhash_signature(shingle_lists[r], num_hashes)`, as an
    int64 (rows, num_hashes) array; every list must be non-empty. One md5
    per distinct shingle; component i is a `np.minimum.reduceat` of
    (a_i * base + b_i) mod MINHASH_PRIME over each row's shingles. The
    components are computed one at a time, so no temporary holds more than
    one value per shingle occurrence."""
    lengths = np.fromiter(map(len, shingle_lists), np.int64, len(shingle_lists))
    if not lengths.all():
        raise ValueError("minhash_matrix needs a non-empty shingle list per row")
    index: dict[str, int] = {}
    ids = np.fromiter(
        (index.setdefault(sh, len(index)) for shs in shingle_lists for sh in shs),
        np.int64,
        int(lengths.sum()),
    )
    distinct = np.fromiter(
        (int.from_bytes(hashlib.md5(sh.encode("utf-8")).digest()[:4], "big") for sh in index),
        np.int64,
        len(index),
    )
    base = distinct[ids]
    starts = np.cumsum(lengths) - lengths
    sig = np.empty((len(shingle_lists), num_hashes), np.int64)
    for i, (a, b) in enumerate(MINHASH_AB[:num_hashes]):
        sig[:, i] = np.minimum.reduceat((a * base + b) % MINHASH_PRIME, starts)
    return sig


def hex16_to_int(h4: str) -> int:
    """First-4-hex-chars -> 16-bit int, engine-portable (per-char strpos math)."""
    digits = "0123456789abcdef"
    v = 0
    for c in h4:
        v = v * 16 + digits.index(c)
    return v


def simhash16(tokens: list[str]) -> int:
    """16-bit SimHash over token md5s; deterministic and SQL-replicable."""
    acc = [0] * 16
    for tok in tokens:
        h = hex16_to_int(md5_hex(tok)[:4])
        for b in range(16):
            acc[b] += 1 if (h >> b) & 1 else -1
    v = 0
    for b in range(16):
        if acc[b] > 0:
            v |= 1 << b
    return v


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)
