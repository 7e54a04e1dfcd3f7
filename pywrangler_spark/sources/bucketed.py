"""Bucketed tables — pre-shuffled storage for repeated co-located joins.

A fact table joined on the same key every day pays the same shuffle every
day. Bucketing pays it ONCE at write time: ``bucketBy(n, key)`` hash-
partitions rows into ``n`` buckets per file-write task and records the
layout in the catalog; a later join of two tables bucketed by the same
key into the same bucket count satisfies both sides' hash-partitioning
requirement from storage — the join plan has **zero Exchange operators**
(verified in the test suite). ``sortBy`` additionally pre-sorts inside
buckets, removing the Sort under a sort-merge join.

This is the Spark analog of the co-located/partitioned-table layouts
warehouse engines use for their fact-to-fact joins, and the right
answer whenever the same large-large join recurs at 100 TB:

- one-off join → let the shuffle happen (AQE sizes it);
- recurring join on a stable key → bucket both tables on that key.

Notes: bucketed tables go through the session catalog (``saveAsTable`` —
bucket metadata lives there, plain ``.parquet(path)`` loses it), readers
get one task per bucket, and both tables must use the SAME bucket count
(Spark does not coalesce mismatched bucket layouts).
"""

from __future__ import annotations

import os

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from pywrangler_spark.util import ensure_iterable


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_columns: Union[str, Sequence[str]],
    num_buckets: int,
    sort_columns: Optional[Union[str, Sequence[str]]] = None,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Persist ``df`` as a catalog table bucketed (and optionally
    bucket-sorted) on ``bucket_columns``.

    The write pre-repartitions on the bucket columns so each bucket
    lands in exactly one file. ``sortBy`` only guarantees order *within
    a file*, and Spark exploits storage order (eliding the Sort under a
    sort-merge join) only when a bucket has a single file — otherwise
    every writer task emits one file per bucket it touches and the
    reader must re-sort. The pre-shuffle costs one exchange AT WRITE
    TIME (the whole point of bucketing is to pay it there). At very
    large scale size buckets so one bucket's rows fit a writer task
    (more buckets, not more files)."""
    buckets = list(ensure_iterable(bucket_columns))
    if not buckets:
        raise ValueError("write_bucketed_table requires bucket columns")
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    df = df.repartition(num_buckets, *[df[c] for c in buckets])
    spark = df.sparkSession
    stale = None
    if mode == "overwrite" and not spark.catalog.tableExists(table):
        # a managed table's files can outlive its catalog entry (the
        # default catalog is session-scoped, the warehouse dir is not);
        # saveAsTable refuses a non-empty location for a "new" table. Move
        # the orphaned directory ASIDE (not delete) so a failed write can
        # restore it; drop it only after the new write commits.
        loc = _orphan_location(spark, table)
        if loc is not None and os.path.isdir(loc):
            stale = f"{loc}.stale-{os.getpid()}"
            os.rename(loc, stale)
    writer = df.write.format(format).mode(mode).bucketBy(
        num_buckets, buckets[0], *buckets[1:]
    )
    if sort_columns is not None:
        sorts = list(ensure_iterable(sort_columns))
        writer = writer.sortBy(sorts[0], *sorts[1:])
    try:
        writer.saveAsTable(table)
    except Exception:
        if stale is not None and not os.path.exists(stale.rsplit(".stale-", 1)[0]):
            os.rename(stale, stale.rsplit(".stale-", 1)[0])
            stale = None
        raise
    finally:
        if stale is not None and os.path.isdir(stale):
            import shutil

            shutil.rmtree(stale, ignore_errors=True)


def _orphan_location(spark: SparkSession, table: str) -> Optional[str]:
    """Local filesystem path a managed table's files would live at, or
    ``None`` when it can't be determined safely (remote warehouse).

    Handles database-qualified names: ``db.tbl`` lives under the
    database's location (``<warehouse>/db.db/tbl`` by default), not
    ``<warehouse>/db.tbl``; the default database sits at the warehouse
    root. Non-file warehouses (hdfs/s3) return ``None`` — we can't
    manipulate them with os-level calls, and the overwrite-orphan
    problem this guards against is a local-session artifact anyway."""
    from urllib.parse import urlparse

    parts = [p.lower() for p in table.split(".")]
    if len(parts) > 2:  # catalog-qualified: spark_catalog.db.tbl
        parts = parts[-2:]
    if len(parts) == 2:
        db, tbl = parts
        try:
            base = spark.catalog.getDatabase(db).locationUri
        except Exception:
            return None
    else:
        tbl = parts[0]
        base = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(base)
    if parsed.scheme not in ("", "file"):
        return None
    return os.path.join(parsed.path, tbl)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — bucket metadata (and therefore the shuffle-free
    join path) only survives through the catalog, not raw file reads."""
    return spark.table(table)
