"""Durable streaming sinks: the retry / exactly-once story (RUNTIME.md).

``foreachBatch`` + checkpoint is the engine's answer to the reference's
``retry(n)``: Spark re-runs a failed micro-batch (at-least-once), and the
sink makes the re-run harmless by committing each batch idempotently —
batch output lands under its batch_id and is skipped when already present.
Restart the drained query with the same checkpoint and NOTHING is
reprocessed; kill it mid-stream and the replayed batch overwrites its own
partial output. End-to-end effectively-once from at-least-once + idempotent
commits.

Every serving stream, durable or not, starts under
:func:`serving_stream_conf`.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame

#: The state store and join state format of every serving stream, set
#: beside its state-partition count by :func:`serving_stream_conf`.
SERVING_STREAM_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
    "spark.sql.streaming.join.stateFormatVersion": "3",
}


#: The checkpoint file manager of a serving stream whose checkpoint lives
#: on the local filesystem (see :func:`serving_stream_conf`).
LOCAL_CHECKPOINT_CONFS = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def _checkpoint_scheme(spark, checkpoint_dir: str) -> str:
    """The filesystem scheme a checkpoint location resolves to: its own
    scheme, else the default filesystem's (``fs.defaultFS``)."""
    jvm = spark._jvm
    scheme = jvm.org.apache.hadoop.fs.Path(checkpoint_dir).toUri().getScheme()
    if scheme is None:
        scheme = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
            spark._jsc.hadoopConfiguration()
        ).getScheme()
    return scheme


@contextlib.contextmanager
def serving_stream_conf(spark, checkpoint_dir: str):
    """Scope the serving confs around a stream ``.start()`` that
    checkpoints to ``checkpoint_dir``: the state-partition count, the
    RocksDB state store with changelog checkpointing, join state format
    3, and on a local checkpoint the FileSystem-based checkpoint file
    manager.

    A stateful operator's per-trigger cost is per state store, not per
    row.  With the HDFS-backed store every store's commit writes delta
    and checksum files through Hadoop's local filesystem, which shells
    out to ``chmod`` and ``readlink`` for each file (no native Hadoop
    library is present).  Two levers cut the store count:

    - ``spark.sql.shuffle.partitions``: a stateful operator freezes its
      state-partition count at FIRST checkpoint creation, and the
      session default (32, sized for the batch suite's corpus-wide
      shuffles) gave every 10-group serving aggregate 32 stores.
      Serving micro-batches are small by construction (a probe tranche
      per trigger), so the count comes from ``SPARK_GRAFT_STATE_PARTITIONS``
      (default 8 locally, never the core count); production sizes it to
      key cardinality x arrival throughput.
    - Join state format 3 keeps ONE store per partition for a
      stream-stream join, where format 2 kept four; it runs only on
      RocksDB.  With changelog checkpointing a RocksDB commit uploads one
      changelog file per store instead of a snapshot.  On 4 cores and 8
      partitions the interval join went from 32 stores to 8 per trigger,
      its summed commit time per trigger (median) from 2292 to 670 ms,
      and perfbench ``rx_stream``'s trigger p50 from 1428 to 1004 ms
      (10/10 alternating pairs).

    RocksDB also keeps state rows off the executor heap, where the
    HDFS-backed store held every row plus its cached versions.

    A third lever cuts the cost per checkpoint file.  Spark's default
    checkpoint file manager goes through Hadoop's ``FileContext``, whose
    rename on a ``file:`` path calls ``FileUtil.readLink`` and so starts
    a ``readlink`` process for every file it commits: the state store's
    changelog and its checksum file, and the offset and commit logs
    (~165 spawns per ``rx_stream`` trigger).  When ``checkpoint_dir``
    resolves to the ``file`` scheme, ``spark.sql.streaming.
    checkpointFileManagerClass`` selects the ``FileSystem``-based manager
    instead, which renames with no spawn (0 ``readlink`` per run, and the
    offset-log write ``walCommit`` from 25 to 8.5 ms per trigger; see
    RUNTIME.md "Fixed cost per trigger").  Spark
    still wraps it in its checksum manager, so every ``N.changelog.crc``
    is written, and Hadoop still writes its ``.crc`` side files.  Any
    other scheme keeps Spark's own choice: on HDFS only ``FileContext``
    renames atomically without overwriting, which the offset log's
    write-once batches rely on.

    Spark records the partition count, the provider and the join format
    in each checkpoint's offset log, so only NEW checkpoints change: a
    query restored from an existing checkpoint keeps its frozen values,
    and replays and crash restarts are untouched.  The file manager is
    not frozen; it only changes how files are written, so a checkpoint
    begun under either manager restarts under the other.  Each conf is
    restored (or unset again) as soon as ``start()`` returns -- the
    query has cloned the session conf by then -- so batch queries and
    user-owned streams never inherit them."""
    confs = {
        "spark.sql.shuffle.partitions": os.environ.get(
            "SPARK_GRAFT_STATE_PARTITIONS", "8"
        ),
        **SERVING_STREAM_CONFS,
    }
    if _checkpoint_scheme(spark, checkpoint_dir) == "file":
        confs.update(LOCAL_CHECKPOINT_CONFS)
    prev = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def _hadoop_fs(spark, path_str: str):
    """(FileSystem, Path) for any Hadoop-supported scheme (file/hdfs/s3a) —
    markers must live on the SINK's filesystem, not the driver's local disk,
    or the exactly-once contract silently only holds for file:// paths."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def idempotent_parquet_sink(out_dir: str):
    """Build a foreachBatch function committing each micro-batch exactly
    once under ``out_dir/batch_id=N``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        target = f"{out_dir}/batch_id={batch_id}"
        fs, marker = _hadoop_fs(spark, f"{target}/_COMMITTED")
        if fs.exists(marker):
            return  # replayed batch — already durably committed
        # mode=overwrite makes a re-run of a HALF-written batch safe too.
        batch_df.write.mode("overwrite").parquet(target)
        fs.create(marker, True).close()

    return write_batch


def run_foreach_batch(stream_df: DataFrame, write_batch, checkpoint_dir: str):
    """Drain a stream through ``write_batch(batch_df, batch_id)``
    (availableNow), started under :func:`serving_stream_conf`."""
    with serving_stream_conf(stream_df.sparkSession, checkpoint_dir):
        query = (
            stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    query.awaitTermination()
    return query


def run_with_idempotent_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Drain a stream through the idempotent sink (availableNow)."""
    return run_foreach_batch(
        stream_df, idempotent_parquet_sink(out_dir), checkpoint_dir
    )
