"""The pigeonhole Hamming join (operators/dedup.py::hamming_pairs) against
brute force, at every signature shape a registered family uses — self-join
and cross-side, one 32-bit word (SimHash), one 64-bit word (pHash, audio
fingerprint) and four 64-bit words (wide pHash)."""

from __future__ import annotations

import random

import pytest

from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
from notion_timetracking_etl_spark.operators.dedup import hamming_pairs

# (n_words, n_bits, radius): the radii the registered queries use
SHAPES = [(1, 32, 2), (1, 64, 8), (4, 256, 24)]


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _words(bits: int, n_words: int) -> tuple[int, ...]:
    return tuple(
        _signed64((bits >> (64 * j)) & ((1 << 64) - 1)) for j in range(n_words)
    )


def _fixture(n_words: int, n_bits: int, radius: int, seed: int = 4):
    """(rows, bits by id): three balls of planted near-dups around random
    centres (up to radius + 2 flipped bits, so some fall just outside),
    plus uniform noise."""
    rng = random.Random(seed)
    bits = {}
    for c in range(3):
        centre = rng.getrandbits(n_bits)
        for k in range(8):
            v = centre
            for _ in range(rng.randrange(0, radius + 3)):
                v ^= 1 << rng.randrange(n_bits)
            bits[10 * c + k] = v
    for i in range(40, 60):
        bits[i] = rng.getrandbits(n_bits)
    rows = [(i, *_words(v, n_words)) for i, v in bits.items()]
    return rows, bits


@pytest.mark.parametrize("side", ["self", "cross"])
@pytest.mark.parametrize("n_words,n_bits,radius", SHAPES)
def test_hamming_pairs_equal_brute_force(spark, side, n_words, n_bits, radius):
    """At the auto level and one level deeper, the verified pair set is
    exactly the brute-force set: every pair within the radius (a < b for
    the self-join; a = arrival, b = corpus for the cross side), with its
    distance, and nothing else."""
    rows, bits = _fixture(n_words, n_bits, radius)
    word_cols = [f"w{j}" for j in range(n_words)]
    sig = spark.createDataFrame(
        rows, "id long, " + ", ".join(f"{w} long" for w in word_cols)
    )

    def ham(a: int, b: int) -> int:
        return bin(bits[a] ^ bits[b]).count("1")

    if side == "self":
        new, corpus = sig, None
        cand = [(a, b) for a in bits for b in bits if a < b]
    else:
        is_new = sig.id % 3 == 0
        new, corpus = sig.filter(is_new), sig.filter(~is_new)
        cand = [
            (a, b) for a in bits for b in bits if a % 3 == 0 and b % 3 != 0
        ]
    brute = sorted((a, b, ham(a, b)) for a, b in cand if ham(a, b) <= radius)
    assert len(brute) >= 3, "the fixture must plant in-radius pairs"
    try:
        for level in (None, 2):
            got = sorted(
                tuple(r)
                for r in hamming_pairs(
                    new,
                    "id",
                    word_cols,
                    n_bits,
                    radius,
                    corpus=corpus,
                    level=level,
                ).collect()
            )
            assert got == brute, (side, n_bits, level)
    finally:
        release_scoped_caches()
