"""Round-12 optimization-phase pins.

Each test pins one accepted optimization from OPTIMIZATION_r12.md so a later
refactor cannot silently undo it:

- the vectorized multimodal codec seams must stay BIT-EQUAL to the per-char /
  per-bit reference loops they replaced (the values feed every perceptual
  hash, pair list and swept==rebuilt fingerprint in the repo);
- catalog_column_stats' split aggregate must never regress to sorting
  Expand-multiplied rows (the 2.6x pathology: string min/max forces
  SortAggregate, multi-countDistinct adds Expand, combined = sort of
  rows x distinct-groups per table);
- knn_graph_stats must keep its SRP-signature base persisted (the plan
  carried the 32-plane fold three times without it).
"""

from __future__ import annotations

import random
import re

import pytest

from notion_timetracking_etl_spark.operators.multimodal import (
    AUDIO_FP_FRAMES,
    PHASH_GRID_CH,
    PHASH_GRID_W,
    PHASH_MIN_CHARS,
    PHASH_SCALE,
    PHASH_WIDE_GRID_CH,
    PHASH_WIDE_GRID_W,
    PHASH_WIDE_MIN_CHARS,
    PHASH_WIDE_WORDS,
    _gradient_words,
    _stub_raster,
    _stub_raster_wide,
    _stub_waveform,
)
from notion_timetracking_etl_spark.queries import REGISTRY


# --- per-char / per-bit reference implementations (the pre-vectorization
# semantics, kept verbatim as the spec) -------------------------------------


def _ref_raster(payload: bytes, ch: int, wd: int, min_chars: int) -> list[int]:
    s = (payload or b"").decode("utf-8")
    n = len(s)
    if n < min_chars:
        raise ValueError("short")
    cnt = [0] * (ch * wd)
    for i, c in enumerate(s):
        cnt[(ord(c) % ch) * wd + i * wd // n] += 1
    return [v * PHASH_SCALE // n for v in cnt]


def _ref_waveform(payload: bytes) -> list[int]:
    s = (payload or b"").decode("utf-8")
    n = len(s)
    if n < AUDIO_FP_FRAMES:
        raise ValueError("short")
    raw = [0] * AUDIO_FP_FRAMES
    for i, c in enumerate(s):
        raw[i * AUDIO_FP_FRAMES // n] += ord(c)
    total = sum(raw) or 1
    return [v * PHASH_SCALE // total for v in raw]


def _ref_gradient_words(px, ch: int, wd: int, n_words: int) -> list[int]:
    ws = [0] * n_words
    for r in range(ch):
        for c in range(wd - 1):
            if px[r * wd + c] < px[r * wd + c + 1]:
                k = r * (wd - 1) + c
                ws[k // 64] |= 1 << (k % 64)
    return [w - (1 << 64) if w >= 1 << 63 else w for w in ws]


def _adversarial_texts(rng: random.Random):
    pools = [
        lambda: chr(rng.randrange(32, 127)),
        lambda: chr(rng.randrange(0x80, 0x800)),
        lambda: chr(rng.randrange(0x4E00, 0x9FFF)),
        lambda: chr(rng.randrange(0x10000, 0x10FFF)),  # astral plane
        lambda: "\x00",
        lambda: " ",
    ]
    for n in (
        AUDIO_FP_FRAMES,
        PHASH_MIN_CHARS,
        PHASH_MIN_CHARS + 1,
        PHASH_WIDE_MIN_CHARS,
        PHASH_WIDE_MIN_CHARS + 1,
        300,
        301,
        2000,
    ):
        for _ in range(12):
            yield "".join(rng.choice(pools)() for _ in range(n))
    yield "\x00" * 100  # all-NUL: the zero-total-energy clamp path


def test_vectorized_codecs_bit_equal_per_char_reference():
    rng = random.Random(20260817)
    n_checked = 0
    for s in _adversarial_texts(rng):
        p = s.encode("utf-8")
        n = len(s)
        if n >= PHASH_MIN_CHARS:
            assert _stub_raster(p, "image") == _ref_raster(
                p, PHASH_GRID_CH, PHASH_GRID_W, PHASH_MIN_CHARS
            )
            n_checked += 1
        if n >= PHASH_WIDE_MIN_CHARS:
            assert _stub_raster_wide(p, "image") == _ref_raster(
                p,
                PHASH_WIDE_GRID_CH,
                PHASH_WIDE_GRID_W,
                PHASH_WIDE_MIN_CHARS,
            )
        if n >= AUDIO_FP_FRAMES:
            assert _stub_waveform(p, "audio") == _ref_waveform(p)
    assert n_checked > 50  # the generator really exercised the raster sizes
    # short payloads must keep raising (the JVM-side min-chars filter's
    # backstop)
    with pytest.raises(ValueError):
        _stub_raster(b"x" * (PHASH_MIN_CHARS - 1), "image")
    with pytest.raises(ValueError):
        _stub_waveform(b"x" * (AUDIO_FP_FRAMES - 1), "audio")


def test_gradient_words_bit_equal_bit_loop_reference():
    rng = random.Random(7)
    for _ in range(200):
        narrow = [rng.randrange(0, PHASH_SCALE) for _ in range(72)]
        assert _gradient_words(narrow, PHASH_GRID_CH, PHASH_GRID_W, 1) == (
            _ref_gradient_words(narrow, PHASH_GRID_CH, PHASH_GRID_W, 1)
        )
        wide = [rng.randrange(0, PHASH_SCALE) for _ in range(272)]
        assert _gradient_words(
            wide, PHASH_WIDE_GRID_CH, PHASH_WIDE_GRID_W, PHASH_WIDE_WORDS
        ) == _ref_gradient_words(
            wide, PHASH_WIDE_GRID_CH, PHASH_WIDE_GRID_W, PHASH_WIDE_WORDS
        )
    # monotone grid: no gradient bit set; descending grid: all bits set
    flat = list(range(72))
    assert _gradient_words(flat, 8, 9, 1) == _ref_gradient_words(flat, 8, 9, 1)
    desc = list(range(272, 0, -1))
    assert _gradient_words(desc, 16, 17, 4) == _ref_gradient_words(
        desc, 16, 17, 4
    )


def _plan_of(spark, sf_dir, name: str) -> str:
    return (
        REGISTRY[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_catalog_stats_never_sorts_expanded_rows(spark, sf_dir):
    """The split-aggregate contract: an Expand (the multi-countDistinct
    fan-out) must never sit under a plain Sort — that shape multiplies then
    SORTS every table's rows (the 3.86 -> 1.51 s regression this round
    removed). The NDV branches must run as hash aggregates."""
    plan = _plan_of(spark, sf_dir, "catalog_column_stats")
    lines = plan.splitlines()
    # ADVICE r12: adjacency is too weak a pin — reject a plain Sort with an
    # Expand ANYWHERE beneath it in the same operator subtree (tree position
    # = indent depth of the "+-"/":-" connector), not just on the next line.
    def node_depth(line: str) -> int | None:
        m = re.search(r"^(\s*)[+:]- ", line)
        return len(m.group(1)) if m else None

    for i, line in enumerate(lines):
        if not re.search(r"[+:]- Sort\b", line):
            continue
        d = node_depth(line)
        for below in lines[i + 1:]:
            bd = node_depth(below)
            if bd is None:
                break
            if bd <= d:
                break  # left the Sort's subtree
            assert "Expand" not in below, (
                "Sort over Expand (any depth): the split aggregate "
                "regressed\n" + line + "\n" + below
            )
    assert "HashAggregate" in plan  # the NDV path stays hash-aggregated


def test_knn_graph_stats_persists_srp_base(spark, sf_dir):
    """Building the query must register the SRP-signature base as a scoped
    persist (plus the counted routing table) so the 32-plane fold runs once,
    not once per consumer."""
    from notion_timetracking_etl_spark import lifecycle

    lifecycle.release_scoped_caches()
    before = len(lifecycle._SCOPED_CACHES)
    df = REGISTRY["knn_graph_stats"].spark(spark, sf_dir)
    added = lifecycle._SCOPED_CACHES[before:]
    assert len(added) >= 2, "expected base + counted scoped persists"
    # the first registered persist is the base: it must carry the raw
    # signature column the downstream consumers substring
    assert "sig" in added[0].columns and "nrm" in added[0].columns
    df.count()  # the plan stays executable with the persists in place
    lifecycle.release_scoped_caches()
