"""Property-based tests for the round-12 pigeonhole hybrid fan-out: at
RANDOM (word count, radius, level) configurations — spanning both the
codegen struct-explode path (<= PIGEONHOLE_CODEGEN_COMBOS combinations)
and the broadcast-data path past it — multi-word Hamming blocking must
find EXACTLY the brute-force pair set, and the two fan-out paths must
emit identical (bi, bv) bucket keys row for row."""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings, strategies as st
import pyspark.sql.functions as F

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _to_words(bits: int, n_words: int) -> tuple[int, ...]:
    ws = []
    for j in range(n_words):
        w = (bits >> (64 * j)) & ((1 << 64) - 1)
        ws.append(w - (1 << 64) if w >= 1 << 63 else w)
    return tuple(ws)


# (n_words, radius) pairs with room for several levels; level drawn so the
# width guard (radius + level > n_words) holds and C(m, c) stays tractable
_configs = st.sampled_from(
    [
        (2, 6, 1),
        (2, 6, 2),
        (2, 10, 3),
        (3, 8, 2),
        (3, 12, 3),
        (4, 24, 1),
        (4, 24, 2),
        (4, 24, 3),
        (4, 8, 2),
    ]
)


@settings(**_SETTINGS)
@given(_configs, st.integers(min_value=0, max_value=2**32 - 1))
def test_multiword_blocking_complete_at_random_configs(spark, cfg, seed):
    n_words, radius, level = cfg
    n_bits = 64 * n_words
    rng = random.Random(seed)
    base = rng.getrandbits(n_bits)
    rows = []
    for i in range(8):
        v = base
        for _ in range(rng.randrange(0, radius + 2)):
            v ^= 1 << rng.randrange(n_bits)
        rows.append((i, *_to_words(v, n_words)))
    for i in range(8, 18):
        rows.append((i, *_to_words(rng.getrandbits(n_bits), n_words)))

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.dedup import hamming_pairs

    word_cols = [f"w{j}" for j in range(n_words)]
    schema = "id long, " + ", ".join(f"{w} long" for w in word_cols)
    sig = spark.createDataFrame(rows, schema)
    words = {r[0]: list(r[1:]) for r in rows}

    def ham(a: int, b: int) -> int:
        return sum(
            bin((wa ^ wb) & ((1 << 64) - 1)).count("1")
            for wa, wb in zip(words[a], words[b])
        )

    brute = {
        (a, b) for a in words for b in words if a < b and ham(a, b) <= radius
    }
    try:
        got = {
            (r.a, r.b)
            for r in hamming_pairs(
                sig, "id", word_cols, n_bits, radius, level=level
            ).collect()
        }
        assert got == brute, (cfg, seed)
    finally:
        release_scoped_caches()


@settings(**_SETTINGS)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_fanout_paths_emit_identical_bucket_keys(spark, seed):
    """Force the SAME (m, level) config through both fan-out paths by
    toggling PIGEONHOLE_CODEGEN_COMBOS — the (id, bi, bv) multisets must
    be identical (the hybrid's correctness hinges on key byte-equality)."""
    import notion_timetracking_etl_spark.operators.dedup as D

    rng = random.Random(seed)
    rows = [(i, *_to_words(rng.getrandbits(256), 4)) for i in range(6)]
    sig = spark.createDataFrame(
        rows, "id long, w0 long, w1 long, w2 long, w3 long"
    )
    wc = ["w0", "w1", "w2", "w3"]
    # radius 24, level 2 -> C(26, 2) = 325 combos: codegen path by default
    saved = D.PIGEONHOLE_CODEGEN_COMBOS
    try:
        a = sorted(
            (r.id, r.bi, r.bv)
            for r in D.pigeonhole_buckets(sig, wc, 256, 24, 2).collect()
        )
        D.PIGEONHOLE_CODEGEN_COMBOS = 0  # force the broadcast-data path
        b = sorted(
            (r.id, r.bi, r.bv)
            for r in D.pigeonhole_buckets(sig, wc, 256, 24, 2).collect()
        )
    finally:
        D.PIGEONHOLE_CODEGEN_COMBOS = saved
    assert a == b
