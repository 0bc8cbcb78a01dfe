"""The one streaming drain (engine extension): every streaming sink in the
package runs through :func:`drain`.

A drain starts a configured ``DataStreamWriter`` with
``Trigger.AvailableNow`` (process the whole backlog in bounded micro-batches,
then stop), waits for it and stops it however the wait ends. A drain that
outlives its timeout has NOT committed every pending micro-batch, so its
sink holds a plausible but wrong partial result: it raises
:class:`TimeoutError` instead of returning.

While the query starts, ``spark.sql.shuffle.partitions`` is pinned to
:data:`STATE_PARTITIONS`: a stateful stream creates one state store (and,
for the Python stateful operators, one worker) per shuffle partition per
micro-batch, and the checkpoint freezes the width at first start, so it is
fixed up front instead of inherited from whatever the session holds. A
deployment over a large key space raises it (hundreds). The query keeps the
value from its start; the session gets its own back at once.

State a ``foreachBatch`` step carries from batch to batch (the CDC merge,
the gates' verdicts, the forget sweeps' lakes) goes through
``lifecycle.next_generation``: each batch frees the generation it replaces.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

STATE_PARTITIONS = 8


def _is_directory(spark: SparkSession, path: str) -> bool:
    """Directory-layout detection that works for ANY Hadoop-visible
    filesystem (s3a://, hdfs://, file://), not just the driver's local disk.
    A driver-local ``os.path.isdir`` returns False for every remote URI and
    would silently route a directory-layout lake table into the
    single-file glob fallback — streaming 0 rows. Falls back to ``os.path``
    only when the JVM gateway is unavailable (Spark Connect), where remote
    listing isn't possible from the client anyway."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.getFileStatus(hpath).isDirectory())
    except Exception:
        import os

        return os.path.isdir(path)


def read_parquet_stream(
    spark: SparkSession, path: str, one_file_per_batch: bool
) -> DataFrame:
    """``readStream`` over the parquet table at ``path`` with its batch
    schema. A directory (a real lake table, a staged changelog) streams
    itself; a single file (the driver's testdata layout) streams its parent
    filtered to that file, since the file source lists directories.
    ``one_file_per_batch`` makes each file one micro-batch: the forced split
    of a staged directory that the split-invariance tests compare against
    the batch twin."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    if _is_directory(spark, path):
        return reader.parquet(path)
    parent, name = path.rsplit("/", 1)
    return reader.option("pathGlobFilter", name).parquet(parent)


def drain(writer: DataStreamWriter, timeout_s: int = 300) -> None:
    """Start ``writer`` (its sink already configured) with
    ``Trigger.AvailableNow``, wait up to ``timeout_s`` for the backlog to
    drain, and stop it. Raises :class:`TimeoutError` when it did not
    finish; a failed query raises its own error."""
    spark = writer._spark
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        finished = q.awaitTermination(timeout_s)
    finally:
        q.stop()
    if not finished:
        raise TimeoutError(
            f"stream drain {q.name or q.id} did not finish within "
            f"{timeout_s}s; partial results discarded"
        )


def drain_batches(
    stream: DataFrame,
    checkpoint_dir: str,
    step: Callable[[DataFrame], None],
    timeout_s: int = 300,
) -> int:
    """Drain ``stream`` through ``step(batch)`` once per micro-batch
    (``foreachBatch``); returns the number of micro-batches. The checkpoint
    must be fresh per drain: a reused one marks the backlog consumed, and a
    re-run then sees zero batches."""
    seen: list[int] = []

    def each(batch: DataFrame, batch_id: int) -> None:
        seen.append(batch_id)
        step(batch)

    drain(
        stream.writeStream.foreachBatch(each).option(
            "checkpointLocation", checkpoint_dir
        ),
        timeout_s,
    )
    return len(seen)
