"""Exactly-once parquet sink for Structured Streaming via idempotent
``foreachBatch`` writes.

Spark's streaming file sink is already exactly-once *on its own log*,
but pipelines that post-process output with other engines (DuckDB
oracles, downstream Spark batch jobs, external loaders) want plain
hive-partitioned parquet with no `_spark_metadata` dependency. The
standard recipe is ``foreachBatch`` + an idempotent writer keyed by
``batchId``:

- each micro-batch lands in ``<path>/batch_id=<n>/`` — written to a
  scratch dir first, then atomically renamed into place;
- on restart/replay (checkpoint recovery re-delivers the last batch),
  the writer sees the committed ``batch_id=<n>`` directory and SKIPS the
  rewrite — at-least-once delivery becomes exactly-once output;
- readers load ``spark.read.parquet(path)`` and see ``batch_id`` as an
  ordinary partition column (pruning works).

State lives entirely in the filesystem layout — no side database. All
filesystem operations (exists / delete / rename-commit) go through the
Hadoop FileSystem resolved from the sink path itself, so the commit
protocol works on whatever filesystem Spark is writing to (local,
HDFS, cluster mode) — not just paths visible to the driver's local
``os`` module. The rename-commit is atomic on local and HDFS; object
stores emulate rename with copy+delete, so point the sink at a
committer-backed path there.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame


def idempotent_parquet_sink(
    path: str,
    coalesce: Optional[int] = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function:
    ``stream.writeStream.foreachBatch(idempotent_parquet_sink(p))``.

    Replayed batch ids are skipped (exactly-once output); a crash
    mid-write leaves only a scratch dir (``_tmp_batch_id=<n>``), which
    the next attempt clears before rewriting.
    """
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # resolve the filesystem FROM the sink path: on HDFS/cluster
        # deployments the driver's local filesystem is not where the
        # parquet lands, so driver-local os.path/os.replace would
        # break both the replay skip and the commit
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path
        final = hpath(path, f"batch_id={batch_id}")
        fs = final.getFileSystem(hconf)
        if fs.exists(final):  # replayed batch — already committed
            return
        scratch = hpath(path, f"_tmp_batch_id={batch_id}")
        if fs.exists(scratch):  # crashed previous attempt
            fs.delete(scratch, True)
        out = batch_df if coalesce is None else batch_df.coalesce(coalesce)
        out.write.mode("overwrite").parquet(scratch.toString())
        if not fs.rename(scratch, final):  # atomic commit
            raise IOError(
                f"commit rename failed: {scratch} -> {final} "
                "(destination appeared concurrently or parent missing)"
            )

    return _write
