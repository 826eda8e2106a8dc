"""The input generator is a pure function of the seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import inputs


def _write_all(seed: int, out) -> dict[str, bytes]:
    out.mkdir()
    inputs.write_table(inputs.kg_corpus(seed, 60), str(out / "kg.parquet"))
    for name, table in inputs.query_tables(seed, 60, 30, 200).items():
        inputs.write_table(table, str(out / f"{name}.parquet"))
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _write_all(7, tmp_path / "a") == _write_all(7, tmp_path / "b")


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _write_all(7, tmp_path / "a"), _write_all(8, tmp_path / "b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)
    assert inputs.planted_families(7) != inputs.planted_families(8)


def test_planted_families_merge_only_within_a_family():
    """Variants add one letter to their base; bases of two families stay
    below the 0.8 shingle Jaccard the canonicalizer merges at."""

    def shingles(s: str) -> set[str]:
        return {s[i : i + 3] for i in range(len(s) - 2)}

    fams = inputs.planted_families(7, n_families=200)
    by_family: dict[int, list[str]] = {}
    for surface, (fam, _label) in fams.items():
        by_family.setdefault(fam, []).append(surface)
    bases = []
    for surfaces in by_family.values():
        base = min(surfaces, key=len)
        assert all(s == base or (s[:-1] == base and len(s) == len(base) + 1) for s in surfaces)
        bases.append(shingles(base))
    for i, a in enumerate(bases):
        for b in bases[i + 1 :]:
            assert len(a & b) / len(a | b) < 0.8
