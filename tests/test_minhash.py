"""The MinHash helpers in cli_spark.operators.dedup against a Python
reference: minhash_signature's hash family, band_rows' treatment of a
document without shingles, and band_pairs' canonical pair order."""

from __future__ import annotations

import hashlib
from itertools import combinations

import pytest

from cli_spark.operators.dedup import band_pairs, band_rows, minhash_signature

# docs 1 and 4 share every shingle, so they collide in every band;
# doc 3 has none (a text of fewer than 3 words)
SHINGLES = {
    1: ["a b c", "b c d", "c d e"],
    2: ["a b c", "x y z"],
    3: [],
    4: ["c d e", "a b c", "b c d"],
    5: ["q r s", "r s t"],
}


def _ref_signature(shingles: list[str], n: int, shift: int) -> list[int | None]:
    if not shingles:
        return [None] * n
    halves = []
    for s in shingles:
        m = hashlib.md5(s.encode("utf-8")).hexdigest()
        halves.append((int(m[0:15], 16), int(m[16:31], 16) >> shift))
    return [min(g1 + i * g2 for g1, g2 in halves) for i in range(n)]


@pytest.fixture(scope="module")
def sh(spark):
    return spark.createDataFrame(
        sorted(SHINGLES.items()), "doc_id long, shingles array<string>")


@pytest.mark.parametrize("n, shift", [(4, 0), (8, 3)])
def test_signature_matches_md5_reference(sh, n, shift):
    sig = minhash_signature(sh, n, shift)
    hs = [f"h{i}" for i in range(n)]
    assert sig.columns == ["doc_id", "shingles", *hs]
    got = {r["doc_id"]: [r[h] for h in hs] for r in sig.collect()}
    assert got == {d: _ref_signature(s, n, shift) for d, s in SHINGLES.items()}
    # g2_shift=0 adds no shift node, so existing plans stay unchanged
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    assert ("shiftright" in plan) == bool(shift)


@pytest.mark.parametrize("n, shift", [(4, 0), (8, 3)])
def test_band_rows_skip_doc_without_shingles(sh, n, shift):
    # one band per hash column, whatever the signature's width
    rows = band_rows(minhash_signature(sh, n, shift)).collect()
    got = {(r["doc_id"], r["band_id"]): r["band_key"] for r in rows}
    want = {
        (d, i): h
        for d, s in SHINGLES.items() if s
        for i, h in enumerate(_ref_signature(s, n, shift))
    }
    assert got == want
    assert len(rows) == len(want)


def test_band_pairs_once_in_canonical_order(sh):
    pairs = band_pairs(band_rows(minhash_signature(sh)))
    got = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    sigs = {d: _ref_signature(s, 4, 0) for d, s in SHINGLES.items() if s}
    want = {
        (a, b) for a, b in combinations(sorted(sigs), 2)
        if any(x == y for x, y in zip(sigs[a], sigs[b]))
    }
    assert (1, 4) in want
    assert sorted(got) == sorted(want)
    assert len(got) == len(set(got))
