"""Tests: distributed Lloyd's k-means operator."""

from __future__ import annotations

import pyspark.sql.functions as F

from notion_timetracking_etl_spark.lifecycle import free, release_scoped_caches
from notion_timetracking_etl_spark.operators.kmeans import kmeans
from notion_timetracking_etl_spark.queries import REGISTRY
from notion_timetracking_etl_spark.sources.tpch import load_table


def _inertia(asg) -> float:
    return asg.agg((F.sum("dist").cast("double") / F.lit(1e12)).alias("i")).collect()[0]["i"]


def test_kmeans_partitions_corpus_and_inertia_decreases(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    prev = None
    for iters in (1, 2, 4):
        asg = kmeans(emb, k=4, iters=iters)
        rows = asg.collect()
        release_scoped_caches()
        assert len(rows) == n  # every vector assigned exactly once
        assert len({r.cid for r in rows}) <= 4
        inertia = sum(float(r.dist) for r in rows) / 1e12
        if prev is not None:
            # Lloyd's is monotone non-increasing in within-cluster SS
            assert inertia <= prev + 1e-9, (iters, inertia, prev)
        prev = inertia


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = {(r.vec_id, r.cid) for r in kmeans(emb, k=8, iters=3).collect()}
    release_scoped_caches()
    b = {(r.vec_id, r.cid) for r in kmeans(emb, k=8, iters=3).collect()}
    release_scoped_caches()
    assert a == b


def test_kmeans_checkpoints_released(spark, sf_dir):
    def persistent_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    emb = load_table(spark, sf_dir, "embeddings")
    REGISTRY["kmeans_embeddings"].spark(spark, sf_dir).collect()
    release_scoped_caches()
    first = persistent_ids()
    REGISTRY["kmeans_embeddings"].spark(spark, sf_dir).collect()
    release_scoped_caches()
    second = persistent_ids()
    assert len(second - first) == 0, sorted(second - first)


def test_ivf_kmeans_recall_against_bruteforce(spark, sf_dir):
    # multi-probe IVF is approximate by design; on the clustered testdata
    # the 2-probe recall@10 against the exact baseline should be high
    from notion_timetracking_etl_spark.operators.similarity import (
        topk_bruteforce,
        topk_ivf_kmeans,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = topk_bruteforce(corpus, queries, k=10).collect()
    approx = topk_ivf_kmeans(corpus, queries, k=10, n_probe=2).collect()
    release_scoped_caches()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, recall
    # every query returns a full (or cell-limited) ranked list, ranks 1..n
    by_q: dict[int, list] = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_pq_rerank_recall_beats_adc_only(spark):
    # PQ4x16 ADC shortlist + exact re-rank must recover most of the true
    # top-10 (measured 0.88 on this corpus); ADC-only is strictly coarser.
    # Thresholds leave margin for driver-side testdata regeneration.
    import numpy as np

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.pq import (
        pq_adc_topk,
        pq_fit,
        pq_search,
    )
    from notion_timetracking_etl_spark.sources.tpch import load_table
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    raw = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in raw])
    V = np.array([np.array(r["embedding"], dtype=np.float64) for r in raw])

    def truth(q):
        d = ((V - V[ids == q][0]) ** 2).sum(axis=1)
        return set(ids[np.lexsort((ids, d))][:10].tolist())

    models = pq_fit(emb, m=4, k=16, iters=2)
    rerank = pq_search(models, queries, emb, shortlist=100, k_top=10).collect()
    adc = pq_adc_topk(models, queries, k_top=10).collect()

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(truth(q) & g) / 10 for q, g in got.items()) / len(got)

    r_rerank, r_adc = recall(rerank), recall(adc)
    assert r_rerank >= 0.7, r_rerank
    assert r_rerank > r_adc, (r_rerank, r_adc)
    release_scoped_caches()


def test_semdedup_removes_planted_duplicates_keeps_lowest_id(spark, tmp_path):
    """SemDeDup contract on a hand-built one-hot corpus: vectors 10 and 11
    are exact copies of vector 2 (cosine 1.0, same cluster always); every
    other pair of distinct one-hots has cosine 0 < threshold. Exactly the
    two HIGHER ids must be removed, the lowest id kept — and the query must
    stay cross-engine hash-green on this corpus."""
    import duckdb

    from notion_timetracking_etl_spark.queries import REGISTRY
    from tests.parity import compare_query

    def one_hot(i):
        v = [0.0] * 64
        v[i % 64] = 1.0
        return v

    rows = []
    for i in range(16):
        vec = one_hot(2) if i in (10, 11) else one_hot(i)
        rows.append((i, vec, i % 3))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = REGISTRY["semdedup_embeddings"].spark(spark, str(tmp_path)).collect()
    assert sum(r["n_removed"] for r in out) == 2
    assert sum(r["removed_checksum"] for r in out) == 21  # ids 10 + 11
    assert sum(r["n_kept"] for r in out) == 14
    assert sum(r["n_members"] for r in out) == 16

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    res = compare_query(spark, con, REGISTRY["semdedup_embeddings"], str(tmp_path))
    assert res.ok, res.detail


def test_model_store_roundtrip_and_new_corpus_encoding(spark, tmp_path, sf_dir):
    """Freeze/thaw contract for fitted ANN models: (a) a k-means model
    reloaded from parquet re-encodes the TRAINING corpus to bit-identical
    assignments; (b) same for all M PQ subspace code tables; (c) a frozen
    model encodes a vector the fit never saw (the incremental-ingest
    serve path) without retraining."""
    from notion_timetracking_etl_spark.operators.kmeans import kmeans_fit
    from notion_timetracking_etl_spark.operators.model_store import (
        load_kmeans_model,
        load_pq_model,
        save_kmeans_model,
        save_pq_model,
    )
    from notion_timetracking_etl_spark.operators.pq import pq_codes, pq_fit
    from notion_timetracking_etl_spark.queries.similarity import load_embeddings

    emb = load_embeddings(spark, sf_dir).select("vec_id", "embedding")

    # scoped=False hands the fitted checkpoints to the caller: free them
    # here, or their blocks stay until the JVM collects the plans
    asg, cent = kmeans_fit(emb, k=8, iters=3, scoped=False)
    models = pq_fit(emb, m=4, k=8, iters=2, scoped=False)
    try:
        save_kmeans_model(cent, str(tmp_path / "km"))
        asg2, cent2 = load_kmeans_model(spark, emb, str(tmp_path / "km"))
        assert sorted(map(tuple, asg.collect())) == sorted(map(tuple, asg2.collect()))
        assert sorted(map(tuple, cent.collect())) == sorted(map(tuple, cent2.collect()))

        save_pq_model(models, str(tmp_path / "pq"))
        models2 = load_pq_model(spark, emb, str(tmp_path / "pq"))
        assert [j for j, *_ in models2] == [0, 1, 2, 3]
        c1 = sorted(map(tuple, pq_codes(models).collect()))
        c2 = sorted(map(tuple, pq_codes(models2).collect()))
        assert c1 == c2

        # Serve path: an unseen vector encodes against the frozen model.
        new = emb.limit(1).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.expr("transform(embedding, x -> float(x) * float(0.5))")
            .alias("embedding"),
        )
        nasg, _ = load_kmeans_model(spark, new, str(tmp_path / "km"))
        rows = nasg.collect()
        assert len(rows) == 1 and rows[0]["cid"] is not None
    finally:
        for df in (cent, *(c for _j, _asg, c in models)):
            free(df)
        release_scoped_caches()


def test_semdedup_incremental_flags_planted_batch_dup_only(spark, tmp_path):
    """Incremental semantic gate on a one-hot corpus: the batch is
    vec_id % 10 = 9 — vector 9 is an exact copy of corpus vector 2 (same
    cell, cosine 1.0), vector 19 is a unique one-hot. Exactly vector 9
    must be flagged, matched to 2; plus cross-engine parity."""
    import duckdb

    from notion_timetracking_etl_spark.queries import REGISTRY
    from tests.parity import compare_query

    def one_hot(i):
        v = [0.0] * 64
        v[i % 64] = 1.0
        return v

    rows = [
        (i, one_hot(2) if i == 9 else one_hot(i), i % 3) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = REGISTRY["semdedup_incremental"].spark(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["vec_id"] == 9
    assert out[0]["matched_vec"] == 2
    assert out[0]["cos"] == 1.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    res = compare_query(spark, con, REGISTRY["semdedup_incremental"], str(tmp_path))
    assert res.ok, res.detail
