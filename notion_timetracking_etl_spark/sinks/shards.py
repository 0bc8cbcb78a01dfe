"""Training-shard writer (engine extension): materialize the deterministic
global shuffle that ``queries/layout.py::corpus_shard_manifest`` plans.

A trainer wants N equal shards in a RANDOM but REPRODUCIBLE order: shard
files are read sequentially by data loaders, so the randomness must be
baked into the layout, not re-sampled per epoch. The permutation key is
``sha256(doc_id)`` — any worker can re-derive which shard a document lives
in from its id alone (and route NEW documents to frozen shard boundaries
without touching the corpus, see ``corpus_shard_route_batch``).

Write path, shaped for 100 TB:

- one pass computes the exact global rank over the permutation key with the
  range-partition + driver-offset machinery (``operators/rank.py``) — never
  a single-partition window;
- closed-form NTILE arithmetic turns the rank into a shard id (sizes differ
  by at most one document);
- ``partitionBy("shard")`` after a ``repartition`` on the shard id writes
  each shard directory in one task — N files for N shards, no small-file
  explosion — with rows sorted by permutation key inside each shard, so a
  shard is itself a contiguous, ordered hash range (file-level min/max
  stats prune key-range lookups).

The reference's persistence layer is JSONL-per-day (``src/normalize/io.ts``);
this writer is part of the training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import release_scoped_caches
from ..operators.rank import ntile_from_rank, with_global_ranks


def write_sharded_corpus(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    mode: str = "overwrite",
) -> int:
    """Shuffle ``df`` into ``n_shards`` hash-permuted shard directories
    (``shard=K/`` hive layout) under ``path``. Returns the row count.

    Deterministic: same input rows → bit-identical shard membership and
    in-shard order, independent of cluster size or partitioning.
    """
    keyed = df.withColumn(
        "_perm", F.sha2(F.col(id_col).cast("string"), 256)
    )
    ranked, total = with_global_ranks(keyed, [F.col("_perm")], rank_col="_rn")
    assigned = ranked.withColumn(
        "shard",
        (ntile_from_rank(F.col("_rn"), total, n_shards) - 1).cast("int"),
    ).drop("_rn")
    (
        assigned.repartition(n_shards, "shard")
        .sortWithinPartitions("_perm")
        .drop("_perm")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
    release_scoped_caches()
    return total


def read_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """Read one shard by partition predicate — the scan lists only that
    shard's directory (partition pruning), never the full corpus."""
    return spark.read.parquet(path).filter(F.col("shard") == shard)
