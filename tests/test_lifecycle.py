"""The materialization lifecycle (notion_timetracking_etl_spark/lifecycle.py):
query-scope registration under concurrent release, the session store's
release of every corpus entry, write-once recording, and the two checks that
refuse to guess (fan_out on an unreadable estimate, rebind_session on a plan
that is not a checkpoint)."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
import hashlib
import sys
import threading
from types import SimpleNamespace

import pytest

from notion_timetracking_etl_spark import lifecycle


def test_scoped_registration_survives_concurrent_release(monkeypatch):
    lifecycle.release_scoped_caches()
    freed: list = []
    monkeypatch.setattr(lifecycle, "free", freed.append)
    n_threads, per_thread = 8, 2000
    stop = threading.Event()

    def register(t: int) -> None:
        for i in range(per_thread):
            lifecycle.query_scoped((t, i))

    def release() -> None:
        while not stop.is_set():
            lifecycle.release_scoped_caches()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n_threads + 1) as pool:
            releaser = pool.submit(release)
            workers = [pool.submit(register, t) for t in range(n_threads)]
            for w in workers:
                w.result(timeout=60)  # re-raises anything a thread raised
            stop.set()
            releaser.result(timeout=60)
    finally:
        sys.setswitchinterval(old)
    lifecycle.release_scoped_caches()
    want = [(t, i) for t in range(n_threads) for i in range(per_thread)]
    assert sorted(freed) == want  # every registration freed exactly once


def _digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_session_release_frees_every_entry_and_refills(spark, sf_dir):
    from notion_timetracking_etl_spark.queries import dedup, kmeans, pipeline, pq

    def fill_all() -> dict[str, str]:
        canon = pipeline.synth_canon(spark, sf_dir)
        derived = pipeline.synth_derived(spark, sf_dir)
        _asg, cent = kmeans.fitted_model(spark, sf_dir)
        frames = {
            "canon": canon["slices"],
            "derived": derived["fact"],
            "model": cent,
            "cells": kmeans._refined_cells(spark, sf_dir),
            "pq": pq.fitted_pq_model(spark, sf_dir)[0][2],
            "pairs": dedup.near_dup_pairs_cached(spark, sf_dir),
        }
        for table in canon.values():
            # the canon persists hold blocks only once filled; the derived
            # entries are eager checkpoints, filled by synth_derived
            table.count()
        return {name: _digest(df) for name, df in frames.items()}

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    lifecycle.release_session_caches()
    lifecycle.release_scoped_caches()
    # RDDs earlier tests left persisted with no live handle may be freed by
    # the ContextCleaner at any time, so assert on what the fills create.
    baseline = persisted()
    first = fill_all()
    lifecycle.release_scoped_caches()
    assert persisted() - baseline  # what the fills created
    lifecycle.release_session_caches()
    assert not persisted() - baseline
    assert fill_all() == first
    lifecycle.release_scoped_caches()  # the refilled store serves later tests


def test_failed_fills_are_not_recorded(tmp_path):
    def boom():
        raise RuntimeError("fill failed")

    app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="x"))
    corpus = str(tmp_path)
    with pytest.raises(RuntimeError):
        lifecycle.session_cached(app, corpus, "model", boom)
    assert lifecycle.session_cached(app, corpus, "model", lambda: "ok") == "ok"
    lifecycle.release_session_caches()

    key = str(tmp_path / "lake")
    with pytest.raises(RuntimeError):
        lifecycle.write_once(key, boom)
    assert not lifecycle.written(key)
    assert lifecycle.write_once(key, lambda: "path") == "path"
    assert lifecycle.write_once(key, boom) == "path"  # never written twice


class _EstimateFails:
    """A JVM Dataset handle whose plan statistics cannot be read."""

    def __init__(self, jdf):
        self._jdf = jdf

    def queryExecution(self):
        raise RuntimeError("no size estimate")

    def __getattr__(self, name):
        return getattr(self._jdf, name)


def test_fan_out_leaves_input_unchanged_when_estimate_fails(spark, sf_dir):
    narrow = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # with a readable estimate this sub-split scan would be fanned out
    assert "Exchange" in lifecycle.fan_out(
        narrow, "doc_id"
    )._jdf.queryExecution().executedPlan().toString()
    jdf = narrow._jdf
    narrow._jdf = _EstimateFails(jdf)
    try:
        out = lifecycle.fan_out(narrow, "doc_id")
    finally:
        narrow._jdf = jdf
    assert out is narrow
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_rebind_session_refuses_a_plan_that_is_not_a_checkpoint(spark):
    other = lifecycle.conf_isolated_session(spark)
    with pytest.raises(ValueError, match="LogicalRDD"):
        lifecycle.rebind_session(spark.range(3), other)
    flat = lifecycle.flat_checkpoint(spark.range(3))
    try:
        rebound = lifecycle.rebind_session(flat, other)
        assert rebound.sparkSession is other
        assert sorted(r.id for r in rebound.collect()) == [0, 1, 2]
    finally:
        lifecycle.free(flat)
