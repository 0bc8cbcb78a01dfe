"""Property-based tests (hypothesis) for the extension operators: each pins
the distributed implementation against an independent pure-Python model on
randomized inputs — connected components vs union-find, salted top-k vs
sorted slices, hash-weighted sampling vs a direct md5 model."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings, strategies as st
import pyspark.sql.functions as F

from notion_timetracking_etl_spark.operators.cluster import connected_components
from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
from notion_timetracking_etl_spark.operators.sampling import (
    hash_draw,
    topk_per_group,
    weighted_keep,
)

_SETTINGS = dict(max_examples=10, deadline=None)


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_equals_union_find(spark, edges):
    expected = _union_find_components(edges)
    cc = connected_components(spark.createDataFrame(edges, "a long, b long"))
    got = {r.node: r.component for r in cc.collect()}
    release_scoped_caches()
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 5),
)
def test_topk_per_group_equals_sorted_slices(spark, rows, k):
    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, v int, i int")
    got = {
        (r.g, r.v, r.i)
        for r in topk_per_group(
            df, ["g"], [F.col("v"), F.col("i")], k, salt_buckets=3
        ).collect()
    }
    expected = set()
    by_g: dict[int, list] = {}
    for g, v, i in data:
        by_g.setdefault(g, []).append((v, i))
    for g, members in by_g.items():
        for v, i in sorted(members)[:k]:
            expected.add((g, v, i))
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(0, 10**9), unique=True, min_size=1, max_size=50),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_weighted_keep_equals_md5_model(spark, ids, w):
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r.id
        for r in df.filter(weighted_keep(hash_draw(F.col("id")), w)).collect()
    }
    if w >= 1.0:
        expected = set(ids)
    else:
        thresh = format(int(w * 2**32), "08x")
        expected = {
            i
            for i in ids
            if hashlib.md5(str(i).encode()).hexdigest()[:8] < thresh
        }
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(  # left: (key, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 20)),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # right: (key, ts, payload)
        st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(0, 99)),
        min_size=0,
        max_size=25,
    ),
    st.booleans(),
)
def test_asof_join_equals_python_model(spark, lefts, rights, strict):
    from notion_timetracking_etl_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k int, lts long, lid int"
    )
    rdf = spark.createDataFrame(
        [(k, t, p, i) for i, (k, t, p) in enumerate(rights)],
        "k int, rts long, payload int, rid int",
    )
    out = asof_join(
        ldf, rdf, ["k"], "lts", "rts", ["payload"], tiebreak="rid",
        strict=strict,
    ).collect()
    got = {r.lid: (r.asof_ts, r.asof_payload) for r in out}
    assert set(got) == set(range(len(lefts)))  # left join: every left row
    for lid, (k, lt) in enumerate(lefts):
        cands = [
            (rt, rid, p)
            for rid, (rk, rt, p) in enumerate(rights)
            if rk == k and (rt < lt if strict else rt <= lt)
        ]
        if not cands:
            assert got[lid] == (None, None), lid
        else:
            # latest ts wins; (key, ts) ties break by LARGEST tiebreak id
            rt, rid, p = max(cands, key=lambda c: (c[0], c[1]))
            assert got[lid] == (rt, p), (lid, got[lid], (rt, p))


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)),
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)),
        min_size=0,
        max_size=20,
    ),
    st.integers(-10, 10),
    st.integers(1, 15),
    st.sampled_from(["inner", "left_outer"]),
)
def test_band_join_equals_python_model(spark, lefts, rights, lower, width, how):
    from notion_timetracking_etl_spark.operators.rangejoin import band_join

    upper = lower + width
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k int, lt long, lid int"
    ).select("k", "lid", F.timestamp_seconds("lt").alias("lts"))
    rdf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rights)], "k int, rt long, rid int"
    ).select(F.col("k").alias("rk"), "rid", F.timestamp_seconds("rt").alias("rts"))
    out = band_join(
        ldf, rdf.withColumnRenamed("rk", "k"), ["k"], "lts", "rts",
        lower, upper, how=how,
    ).collect()
    got = {(r.lid, r.rid) for r in out}
    expected = {
        (lid, rid)
        for lid, (lk, lt) in enumerate(lefts)
        for rid, (rk, rt) in enumerate(rights)
        if lk == rk and lt + lower <= rt < lt + upper
    }
    if how == "left_outer":
        matched = {lid for lid, _ in expected}
        expected |= {
            (lid, None) for lid in range(len(lefts)) if lid not in matched
        }
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=6, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=10,
    ),
    st.data(),
)
def test_minhash_pairs_sound_and_finds_exact_dups(spark, texts, data):
    """Soundness: every emitted pair truly meets the Jaccard threshold
    (the exact verification step guarantees it). Completeness floor:
    EXACT duplicates (Jaccard 1.0) agree on every band and so must always
    be found, regardless of the LSH parameters."""
    from notion_timetracking_etl_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    # duplicate a random subset of documents verbatim
    n = len(texts)
    dup_of = data.draw(
        st.lists(st.integers(0, n - 1), min_size=1, max_size=3)
    )
    docs = list(texts) + [texts[i] for i in dup_of]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.a, r.b)
        for r in minhash_near_dup_pairs(
            df, "doc_id", "text", num_hashes=12, bands=3,
            threshold=0.5, shingle_n=3,
        ).collect()
    }
    release_scoped_caches()

    def shingles(t):
        ws = t.split()
        return {tuple(ws[i : i + 3]) for i in range(max(1, len(ws) - 2))}

    sh = [shingles(t) for t in docs]
    for a, b in got:  # soundness: verified Jaccard >= threshold
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        assert inter / union >= 0.5, (a, b, inter / union)
    for j, i in enumerate(dup_of):  # completeness floor: exact dups found
        pair = (min(i, n + j), max(i, n + j))
        if sh[pair[0]] == sh[pair[1]]:  # identical shingle sets
            assert pair in got, pair


def test_registry_tolerates_empty_inputs(spark, tmp_path):
    # a filtered-to-zero partition is a legitimate production state: the
    # iterative operators (CC convergence count, PageRank teleport 1/n) and
    # driver-scalar queries (pareto total) must return empty, never raise.
    # (Full-registry empty probe ran offline; this pins the three that bit.)
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.operators.cluster import (
        connected_components,
    )
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.pagerank import pagerank

    empty = spark.createDataFrame([], "a long, b long")
    assert connected_components(empty).count() == 0
    assert pagerank(empty).count() == 0
    release_scoped_caches()

    from notion_timetracking_etl_spark.queries import REGISTRY
    from notion_timetracking_etl_spark.sources.tpch import load_table

    out = str(tmp_path / "empty")
    import os

    os.makedirs(out, exist_ok=True)
    load_table(spark, "/root/testdata/sf0.001", "orders").limit(0).write.mode(
        "overwrite"
    ).parquet(f"{out}/orders.parquet")
    assert REGISTRY["revenue_pareto_curve"].spark(spark, out).count() == 0
    release_scoped_caches()

    # round-5 additions: an empty events table writes a partitioned lake
    # with ZERO partition directories — the read-back must use the explicit
    # schema (inference has nothing to look at and raises), and the
    # decontam family must tolerate an empty corpus
    load_table(spark, "/root/testdata/sf0.001", "events").limit(0).write.mode(
        "overwrite"
    ).parquet(f"{out}/events.parquet")
    load_table(spark, "/root/testdata/sf0.001", "documents").limit(0).write.mode(
        "overwrite"
    ).parquet(f"{out}/documents.parquet")
    load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(0).write.mode(
        "overwrite"
    ).parquet(f"{out}/embeddings.parquet")
    for name in (
        "lake_pruned_daily_profile",
        "lake_bucketed_cohort_activity",
        "contamination_ngram_overlap",
        "text_repetition_bands",
        "dedup_incremental_batch",
        "corpus_prep_pipeline",
        "streaming_lake_ingest",
        "text_boilerplate_passages",
        # round-8 additions: empty corpus -> empty audit / empty pair list
        "corpus_source_cap",
        "kmv_set_intersection",
        "kmv_set_difference",
        "quantile_hash_sample",
        "streaming_quantile_sample",
        "streaming_source_cap",
        # round-9 additions: empty media/sketch/arrival lakes
        "multimodal_near_dup",
        "multimodal_dedup_clusters",
        "multimodal_incremental_near_dup",
        "kmv_sketch_lake_merge",
        "hll_sketch_lake_merge",
        "streaming_semdedup_gate",
        "quantile_sketch_lake_merge",
        "streaming_multimodal_gate",
        "multimodal_audio_near_dup",
        "embedding_drift_report",
        "ann_index_drift",
        "text_drift_report",
    ):
        assert REGISTRY[name].spark(spark, out).count() == 0, name
        release_scoped_caches()


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 64),
    st.integers(1, 64),
    st.sampled_from(["P5", "P6"]),
    st.booleans(),
    st.integers(1, 255),
)
def test_ppm_decode_round_trips_generated_headers(w, h, magic, comment, maxval):
    from notion_timetracking_etl_spark.operators.multimodal import ppm_decode

    per_px = (3 if magic == "P6" else 1)
    header = (
        f"{magic}\n" + ("# c\n" if comment else "") + f"{w} {h}\n{maxval}\n"
    ).encode()
    raster = bytes(min(i % 251, maxval) for i in range(w * h * per_px))
    assert ppm_decode(header + raster, "image") == (w, h, 1)
    # one byte short of the advertised raster must be rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ppm_decode(header + raster[:-1], "image")


def _write_docs(spark, rows, d):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "zh", "de", "es", "fr", "xx"]),
            st.lists(
                st.text(alphabet="abcdefg", min_size=1, max_size=3),
                min_size=1,
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_corpus_mixture_plan_equals_python_model(spark, docs):
    """The mixture plan must equal a pure-Python replay of the same IEEE op
    sequence: budget = min over weighted langs of available/weight, target =
    floor(weight*budget), rate = target/available — plus the invariants
    every dataloader config depends on (rate in (0,1]; the bottleneck
    language samples at exactly 1.0 unless flooring shaved its target)."""
    import math
    import tempfile

    from notion_timetracking_etl_spark.queries import REGISTRY
    from notion_timetracking_etl_spark.queries.curation import _MIX_WEIGHTS

    d = tempfile.mkdtemp()
    rows = [
        (i, " ".join(words), lang, "s0", 0)
        for i, (lang, words) in enumerate(docs)
    ]
    _write_docs(spark, rows, d)

    avail: dict[str, int] = {}
    for lang, words in docs:
        avail[lang] = avail.get(lang, 0) + len(words)
    weighted = {
        lang: _MIX_WEIGHTS[lang]
        for lang in avail
        if _MIX_WEIGHTS.get(lang, 0.0) > 0.0
    }
    # No weighted language in the corpus -> the budget is undefined (the
    # zero-groupBy MIN emits one NULL row on BOTH engines) and every
    # target/rate is NULL — the plan degrades observably, it doesn't crash.
    budget = (
        min(avail[lang] / w for lang, w in weighted.items())
        if weighted
        else None
    )

    out = {
        r["lang"]: r
        for r in REGISTRY["corpus_mixture_plan"].spark(spark, d).collect()
    }
    assert set(out) == set(avail)
    for lang, row in out.items():
        assert row["available_tokens"] == avail[lang]
        w = _MIX_WEIGHTS.get(lang, 0.0)
        if budget is None:
            assert row["target_tokens"] is None
            assert row["sample_rate"] is None
            continue
        expect_target = math.floor(w * budget)
        assert row["target_tokens"] == expect_target, lang
        assert row["sample_rate"] == float(expect_target) / avail[lang]
        assert 0.0 <= row["sample_rate"] <= 1.0
    # the binding language hits rate 1.0 exactly when flooring is a no-op
    if budget is not None:
        for lang, w in weighted.items():
            if avail[lang] / w == budget and w * budget == avail[lang]:
                assert out[lang]["sample_rate"] == 1.0


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="pqr", min_size=1, max_size=2),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_unigram_lm_scores_equal_python_model(spark, corpora):
    """unigram_lm_doc_scores must equal the pure-Python replay of the exact
    convention: inv_p = N/tf (one IEEE divide), per-doc mean =
    sum(floor(inv_p*1e6)) / n / 1e6 — and every score is >= 1 (a token's
    probability can't exceed 1)."""
    import math
    import tempfile

    from notion_timetracking_etl_spark.queries import REGISTRY

    d = tempfile.mkdtemp()
    rows = [(i, " ".join(words), "en", "s0", 0) for i, words in enumerate(corpora)]
    _write_docs(spark, rows, d)

    tf: dict[str, int] = {}
    for words in corpora:
        for w in words:
            tf[w] = tf.get(w, 0) + 1
    n_total = sum(tf.values())

    out = {
        r["doc_id"]: r
        for r in REGISTRY["unigram_lm_doc_scores"].spark(spark, d).collect()
    }
    assert set(out) == set(range(len(corpora)))
    for i, words in enumerate(corpora):
        micros = sum(
            math.floor((float(n_total) / tf[w]) * 1000000.0) for w in words
        )
        expect = float(micros) / len(words) / 1000000.0
        assert out[i]["n_tokens"] == len(words)
        assert out[i]["mean_inv_p"] == expect, i
        assert out[i]["mean_inv_p"] >= 0.999999


# ---------------------------------------------------------------------------
# selection family: BPE fit, Bloom membership, Gopher rules
# ---------------------------------------------------------------------------

_BPE_WORD = st.text(alphabet="ab", min_size=1, max_size=5)


def _ref_pair_counts_bpe(vocab):
    out = {}
    for syms, cnt in vocab.items():
        for a, b in zip(syms, syms[1:]):
            out[(a, b)] = out.get((a, b), 0) + cnt
    return out


def _ref_merge_bpe(syms, pair):
    o, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            o.append(syms[i] + syms[i + 1])
            i += 2
        else:
            o.append(syms[i])
            i += 1
    return tuple(o)


def _ref_bpe_fit(freq, n_merges):
    vocab = {tuple(w): c for w, c in freq.items()}
    merges = []
    for _ in range(n_merges):
        counts = _ref_pair_counts_bpe(vocab)
        if not counts:
            break
        pair, cnt = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        if cnt < 2:
            break
        merges.append((f"{pair[0]} {pair[1]}", cnt))
        vocab = {_ref_merge_bpe(s, pair): c for s, c in vocab.items()}
    return merges


@settings(max_examples=5, deadline=None)
@given(st.lists(_BPE_WORD, min_size=1, max_size=12))
def test_bpe_fit_equals_reference_on_random_corpora(spark, word_list):
    from notion_timetracking_etl_spark.operators.selection import (
        bpe_fit,
        word_frequency_table,
    )

    text = " ".join(word_list)
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    freq_df = word_frequency_table(docs, "text")
    freq = {}
    for w in word_list:
        freq[w] = freq.get(w, 0) + 1
    assert bpe_fit(freq_df, n_merges=4) == _ref_bpe_fit(freq, 4)


@settings(**_SETTINGS)
@given(
    st.sets(st.text(alphabet="xyz0", min_size=1, max_size=4), min_size=1,
            max_size=20),
    st.sets(st.text(alphabet="xyz0", min_size=1, max_size=4), min_size=1,
            max_size=20),
)
def test_bloom_probe_equals_sha256_position_model(spark, corpus, batch):
    import hashlib

    from notion_timetracking_etl_spark.operators.selection import (
        bloom_build,
        bloom_probe,
    )

    m_bits, k = 32, 3  # tiny filter: false positives likely, FN impossible

    def positions(key):
        return {
            int(
                hashlib.sha256(f"bloom{i}|{key}".encode()).hexdigest()[:8],
                16,
            )
            % m_bits
            for i in range(k)
        }

    lit = set().union(*(positions(c) for c in corpus))
    want = {b: positions(b) <= lit for b in batch}

    cdf = spark.createDataFrame([(c,) for c in corpus], "fp string")
    bdf = spark.createDataFrame([(b,) for b in batch], "fp string")
    bloom = bloom_build(cdf, "fp", m_bits=m_bits, k=k)
    got = {
        r["fp"]: r["bloom_pass"]
        for r in bloom_probe(bdf, bloom, "fp", m_bits=m_bits, k=k).collect()
    }
    assert got == want
    assert all(got[b] for b in batch & corpus)  # no false negatives, ever


_GOPHER_TEXT = st.lists(
    st.text(alphabet="abe135 ", min_size=1, max_size=8), min_size=1,
    max_size=80,
).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_GOPHER_TEXT, min_size=1, max_size=6))
def test_gopher_rules_equal_integer_model(spark, texts):
    import re

    from notion_timetracking_etl_spark.queries.docfilter import (
        STOP_WORDS,
        rules_from_docs,
    )

    def model(text):
        ws = re.split(r"\s+", text.strip().lower())
        n = len(ws)
        sum_len = sum(len(w) for w in ws)
        n_alpha = sum(1 for w in ws if re.search(r"[a-z]", w))
        n_stop = len({w for w in ws if w in STOP_WORDS})
        g2 = (
            [" ".join(ws[i : i + 2]) for i in range(n - 1)]
            if n >= 2 else [" ".join(ws)]
        )
        g3 = (
            [" ".join(ws[i : i + 3]) for i in range(n - 2)]
            if n >= 3 else [" ".join(ws)]
        )
        max2 = max(g2.count(g) for g in set(g2))
        nt, nd = len(g3), len(set(g3))
        return (
            50 <= n <= 100000,
            3 * n <= sum_len <= 10 * n,
            5 * n_alpha >= 4 * n,
            n_stop >= 2,
            10 * max2 <= n,
            10 * (nt - nd) <= 3 * nt,
        )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: tuple(r[f"r{i}"] for i in range(6))
        for r in rules_from_docs(docs).collect()
    }
    assert got == {i: model(t) for i, t in enumerate(texts)}
