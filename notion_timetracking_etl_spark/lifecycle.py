"""Materialization lifetimes: what the engine keeps, how long, and how it is
freed. Every persist, checkpoint and write-once file that outlives the
statement creating it is registered here, in one of three lifetimes.

**Query scope.** Intermediates one plan reads several times: shingle and
candidate tables, the edge and label checkpoints of connected components,
the last round of an iterative loop, the latest generation of a
streaming accumulator (:func:`next_generation`, which frees the one it
replaces), and the seven star tables of one publish
(``plans/derive.py::run_derive``, read by every sink). They back
the DataFrames a query builder or ``run_derive`` returns, so they must
outlive the call that made them but not the consuming actions. Register
them with :func:`scoped_persist`, :func:`scoped_flat_checkpoint` or
:func:`query_scoped`; a harness that runs many queries in one session
calls :func:`release_scoped_caches` after each action (bench.py,
tests/parity.py and perfbench do).

**Session scope.** State every query over one corpus shares, filled once
and read many times: the synthesized canon and the derived intermediates
the ``pipeline_*`` queries share, the fitted k-means quantizer, the
refined cells and routing lake, the PQ codebooks, the verified near-dup
pair list. :func:`session_cached` keys them by corpus,
``(applicationId, sf_dir)``. An entry whose plan has a broadcast join is
stored as a checkpoint, never a persist: a persisted plan keeps its
executed physical plan, and with it every broadcast hash relation, a whole
driver memory page each (up to 64 MB) whatever its row count, for as long
as the entry lives; a checkpoint keeps only the rows. At most
``MAX_CORPORA`` corpora stay; the least recently used one is evicted whole,
and all of its blocks are freed together. Caveat, evict-then-execute:
eviction frees the blocks behind every DataFrame handed out for that
corpus, and a checkpoint forfeits its lineage, so a lazy plan built on an
evicted entry fails with a missing-block error instead of recomputing.
Execute a plan before touching ``MAX_CORPORA`` further corpora in the same
session (bench, driver and test sessions touch at most three and execute
eagerly). A user-facing session API would need reference counts here
first. :func:`release_session_caches` frees every corpus now.

**Write-once files.** Lakes, model artifacts and staging directories a
query writes once per process and reads back afterwards
(:func:`write_once`). They hold no blocks and are never evicted, so no file
is written more often than once per process and key.

Both block-holding scopes free through :func:`free`: ``unpersist()`` for
CacheManager entries plus the RDD blocks behind a checkpoint, which
``unpersist()`` never reaches.

Harnesses must never call ``spark.catalog.clearCache()``: it drops the
canon persists, the only session-scope persists, behind this module's
back, so every later query re-derives canon from source while the store
keeps handing out the uncached frames. :func:`release_scoped_caches` is the
per-query release.

One lock guards the bookkeeping only. Fills run outside it, so fills of
different keys overlap (the forget sweeps run their legs in driver
threads); a key is recorded only after its fill returns, so a failed fill
is retried, never read half-done.
"""

from __future__ import annotations

from collections import OrderedDict
import threading
from typing import Any, Callable, TypeVar

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

T = TypeVar("T")

MAX_CORPORA = 4

_LOCK = threading.Lock()
_SCOPED_CACHES: list[DataFrame] = []
_SESSION_CACHE: OrderedDict[tuple[str, str], dict[str, Any]] = OrderedDict()
_WRITTEN: dict[Any, Any] = {}


def free(df: DataFrame) -> None:
    """Free the storage behind ``df`` NOW: its CacheManager entry and, for a
    checkpoint, the persisted RDD. A checkpointed Dataset is backed by an
    RDD-level persist that CacheManager never sees, so ``unpersist()`` alone
    leaves its blocks until the JVM garbage-collects the plan (measured:
    they survive ``unpersist()`` AND driver-side gc). The checkpointed plan
    is a ``LogicalRDD`` whose ``rdd`` field is exactly the persisted RDD.
    Safe on plain plans and stopped sessions."""
    try:
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # session already stopped — nothing to free
        pass


def _free_all(value: Any) -> None:
    """:func:`free` every DataFrame inside a session entry (a frame, or
    dicts/lists/tuples of them: canon tables, (assignments, centroids),
    PQ codebooks)."""
    if isinstance(value, DataFrame):
        free(value)
    elif isinstance(value, dict):
        for v in value.values():
            _free_all(v)
    elif isinstance(value, (list, tuple)):
        for v in value:
            _free_all(v)


# ---------------------------------------------------------------- query scope


def query_scoped(df: DataFrame) -> DataFrame:
    """Register an already materialized ``df`` (the last round of a loop)
    for :func:`release_scoped_caches`; returns it."""
    with _LOCK:
        _SCOPED_CACHES.append(df)
    return df


def scoped_persist(df: DataFrame) -> DataFrame:
    return query_scoped(df.persist())


def next_generation(prev: DataFrame | None, df: DataFrame) -> DataFrame:
    """Store ``df``, the next generation of state carried from batch to
    batch (a ``foreachBatch`` accumulator), and free ``prev``, the
    generation it replaces. The store is an eager local checkpoint: the
    next batch reads rows, not lineage (O(1) plan depth), and unlike
    :func:`flat_checkpoint` it keeps the size estimate the gates' broadcast
    joins rely on. It is query-scoped, so :func:`release_scoped_caches`
    frees the final generation after the consuming action. Pass as ``prev``
    only what an earlier call returned, never a caller's initial state."""
    ck = df.localCheckpoint(eager=True)
    with _LOCK:
        if prev is not None:
            _SCOPED_CACHES[:] = [d for d in _SCOPED_CACHES if d is not prev]
        _SCOPED_CACHES.append(ck)
    if prev is not None:
        free(prev)
    return ck


def release_scoped_caches() -> None:
    """Free every query-scoped intermediate registered since the last
    release. Call after the consuming action completes; safe to call twice,
    from several threads, or on a stopped session."""
    with _LOCK:
        frames = _SCOPED_CACHES[::-1]
        _SCOPED_CACHES.clear()
    for df in frames:
        free(df)


def flat_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` WITHOUT the origin-stats rewrite.

    Spark 4's ``Dataset.checkpoint`` copies the origin plan's size estimate
    onto the new ``LogicalRDD`` (``LogicalRDD.rewriteStatsAndConstraints``).
    Inside an iterative loop that is a planning-time time bomb: each
    round's join plan MULTIPLIES its children's size estimates
    (``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` — a BigInt product), and
    the checkpoint hands that product to the next round as a leaf estimate,
    so the estimate's bit-length grows geometrically with round count —
    measured on the CC loop: ~2× bits/round with one pointer jump, 2^j× with
    j composed jumps, until the driver spends MINUTES in
    ``BigInteger.multiply`` (Karatsuba/Toom-Cook frames in the thread dump).
    Re-wrapping the checkpoint's materialized row RDD via
    ``internalCreateDataFrame`` builds the same ``LogicalRDD`` with NO
    origin stats: leaves fall back to ``defaultSizeInBytes`` and every
    round's stats stay O(64) bits. The rows were already copied and
    persisted by the checkpoint, so this adds no data work; partitioning
    metadata is dropped, which no call site relies on (every consumer
    re-shuffles by a different key). Auto-broadcast decisions are
    unaffected where this is used — the iterative loops disable broadcast
    anyway. :func:`free` keeps working: the plan is a ``LogicalRDD`` whose
    ``rdd()`` is exactly the persisted RDD."""
    return _rewrap(df.localCheckpoint(eager=True), df.sparkSession)


def scoped_flat_checkpoint(df: DataFrame) -> DataFrame:
    """Eager :func:`flat_checkpoint`, query-scoped — for intermediates that
    MANY downstream legs re-reference in one big plan (the forget reports
    union ~10 legs over the same base table). A plain persist caches the
    DATA but every leg's LOGICAL plan still carries the full upstream
    lineage, and Catalyst re-analyzes it per leg: measured on
    deletion_propagation_semgate_state, the driver spent 7.3 s of an 18 s
    run in a zero-stage planning gap before the final job. The checkpoint
    truncates the lineage to a flat ``LogicalRDD`` leaf (guide §3.3 —
    materialize to cut planning time), and the stats strip keeps size
    estimates O(64) bits."""
    return query_scoped(flat_checkpoint(df))


def conf_isolated_session(spark):
    """A cloned SparkSession (same SparkContext, cache manager and runtime
    conf VALUES, fresh SQLConf OBJECT) whose ``conf.set`` is invisible to the
    parent — the reentrancy fix for operators that tune session-level conf
    around an eager loop (``cluster.connected_components``). With the loop's
    conf private, independent legs of a multi-leg query can run in parallel
    driver threads (guide §2.6) without racing plan-time conf reads.

    ``cloneSession`` (not ``newSession``): the clone COPIES the parent's
    current runtime conf (timezone, nanosAsLong, AQE flags), where a new
    session would reset to the SparkContext defaults and silently drop any
    runtime overrides a harness applied after startup."""
    from pyspark.sql import SparkSession

    return SparkSession(
        spark.sparkContext, jsparkSession=spark._jsparkSession.cloneSession()
    )


def _rewrap(ck: DataFrame, spark) -> DataFrame:
    """A new stats-free ``LogicalRDD`` over the persisted rows of the
    checkpointed ``ck``, in ``spark``. Raises when ``ck``'s plan is not a
    ``LogicalRDD``: handing the plan back unchanged would keep its origin
    stats, and its source session (CC's child session has broadcast off and
    a narrow shuffle width)."""
    plan = ck._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError(
            "expected a checkpointed (LogicalRDD) plan, got "
            + plan.getClass().getSimpleName()
        )
    jdf = spark._jsparkSession.internalCreateDataFrame(
        plan.rdd(), ck._jdf.schema(), False
    )
    return DataFrame(jdf, spark)


def rebind_session(df: DataFrame, spark) -> DataFrame:
    """Re-home a :func:`flat_checkpoint`-ed DataFrame into ``spark`` (another
    session on the SAME SparkContext). The rows are already persisted; this
    only re-wraps the ``LogicalRDD`` so downstream plans resolve against the
    target session's conf/state."""
    if df.sparkSession is spark:
        return df
    return _rewrap(df, spark)


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` to the session's default parallelism when its
    SCAN would land on fewer partitions than the session has cores — the
    tiny-file fan-out ``shingle_table`` applies to documents, generalized
    (guide §2: a parquet file under ``spark.sql.files.maxPartitionBytes``
    scans as ONE partition, so CPU-heavy per-row work — interpreted HOF
    folds, sha256 chains, fixed-point argmins — runs single-task no matter
    how many cores the cluster has; measured: the embedding family's 8-core
    and 32-core bench times were IDENTICAL before this).

    Scale-adaptive, not a local[] constant: the trigger is the optimizer's
    size estimate vs ``maxPartitionBytes`` — a corpus-sized input (estimate
    >= cores × split size) already scans wide and is returned UNCHANGED, so
    no 100 TB table ever pays a concentrating shuffle; a sub-split file pays
    one narrow row shuffle to buy full parallelism. An input whose estimate
    cannot be read counts as large and is returned unchanged too: a guess
    must never add a shuffle. Plan-time metadata only (no job). Keyed
    repartition (deterministic hash), never round-robin — round-robin pays a
    per-partition sort and is retry-unsafe on non-deterministic input
    (guide §2.5)."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        max_pb = spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        unit = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
        s = str(max_pb).strip().lower().removesuffix("b") or "134217728"
        split = int(s[:-1]) * unit[s[-1]] if s[-1] in unit else int(s)
    except Exception:
        return df
    if size >= p * split:
        return df
    return df.repartition(p, *[F.col(k) for k in keys])


# -------------------------------------------------------------- session scope


def session_cached(spark, sf_dir: str, name: str, fill: Callable[[], T]) -> T:
    """The ``name`` entry of corpus ``(applicationId, sf_dir)``, filled by
    ``fill()`` on first use. A read refreshes the corpus's recency; filling
    a new corpus past ``MAX_CORPORA`` evicts the least recently used one and
    frees all of its entries (see the module docstring's caveat)."""
    corpus = (spark.sparkContext.applicationId, sf_dir)
    with _LOCK:
        entries = _SESSION_CACHE.get(corpus)
        if entries is not None:
            _SESSION_CACHE.move_to_end(corpus)
            if name in entries:
                return entries[name]
    value = fill()
    with _LOCK:
        entries = _SESSION_CACHE.setdefault(corpus, {})
        _SESSION_CACHE.move_to_end(corpus)
        kept = entries.setdefault(name, value)
        evicted = [
            _SESSION_CACHE.popitem(last=False)[1]
            for _ in range(len(_SESSION_CACHE) - MAX_CORPORA)
        ]
    if kept is not value:  # a concurrent fill of the same key won
        evicted.append(value)
    _free_all(evicted)
    return kept


def release_session_caches() -> None:
    """Free every session-scope entry of every corpus NOW (checkpoint
    blocks included). Safe on a stopped session; later reads refill."""
    with _LOCK:
        corpora = list(_SESSION_CACHE.values())
        _SESSION_CACHE.clear()
    _free_all(corpora)


# ----------------------------------------------------------- write-once files


def write_once(key: Any, fill: Callable[[], T]) -> T:
    """Run ``fill()`` (which writes files and returns what later calls need,
    e.g. a staging path) the first time ``key`` is seen in this process;
    later calls return the recorded value without writing. The key is
    recorded only after ``fill`` returns, so a fill that raised mid-write is
    retried instead of leaving every later call reading a partial
    artifact."""
    with _LOCK:
        if key in _WRITTEN:
            return _WRITTEN[key]
    value = fill()
    with _LOCK:
        return _WRITTEN.setdefault(key, value)


def written(key: Any) -> bool:
    """Whether :func:`write_once` has recorded ``key`` in this process."""
    with _LOCK:
        return key in _WRITTEN
