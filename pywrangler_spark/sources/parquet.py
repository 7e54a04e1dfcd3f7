"""Parquet source with nanosecond-timestamp normalization.

Spark's vectorized parquet reader rejects ``TIMESTAMP(NANOS)`` columns
(``PARQUET_TYPE_ILLEGAL``) — common in files written by pandas/pyarrow with
default ``datetime64[ns]``. With ``spark.sql.legacy.parquet.nanosAsLong=true``
those columns arrive as raw nanosecond longs; this reader sniffs the parquet
footer (metadata-only, driver-side, O(1) regardless of data size) with
pyarrow and converts them back to proper ``TimestampType`` via
``timestamp_micros`` — JVM-side expressions, no UDFs, fully codegen'd, so
the conversion is free at scan time and Catalyst still prunes columns and
pushes down filters on the remaining columns.

The session must be created with the ``nanosAsLong`` config (see
:func:`pywrangler_spark.session.get_spark`).
"""

from __future__ import annotations

import glob
import os
from typing import Dict, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# driver testdata tables (TESTDATA.md)
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nano_timestamp_columns(path: str) -> list:
    """Column names stored as TIMESTAMP(NANOS) — read from the footer only."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        candidates = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not candidates:
            return []
        path = candidates[0]
    schema = pq.read_schema(path)
    nanos = []
    for field in schema:
        t = field.type
        if getattr(t, "unit", None) == "ns":
            nanos.append(field.name)
    return nanos


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` + normalize every timestamp flavor to plain
    ``TimestampType`` (microsecond precision, Spark's native resolution).

    Two parquet quirks are handled here so no downstream operator ever sees
    them:

    - ``TIMESTAMP(NANOS)`` (pandas default ``datetime64[ns]``): rejected by
      the vectorized reader; read as raw longs via ``nanosAsLong`` and
      restored with ``timestamp_micros``.
    - naive ``timestamp[us]`` (no timezone): Spark's default
      ``inferTimestampNTZ.enabled=true`` reads these as TIMESTAMP_NTZ,
      which rejects ``cast(as double)`` / ``unix_micros``. Disabling the
      inference makes the scan itself produce TimestampType (no extra
      projection, pushdown untouched); any NTZ column that still appears
      (e.g. schema merge) is cast — valid under the UTC session TZ.
    """
    # runtime-settable; makes this reader work on externally-created sessions
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # parquet naive timestamps are wall-clock; interpret as UTC so the
    # TimestampType round-trips the stored wall time under any host TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    # the footer sniff says which columns pyarrow sees as [ns] — but
    # INT96 timestamps (Spark's own default parquet output) also report
    # [ns] while Spark reads them as proper TIMESTAMP. Only columns
    # that actually arrived as raw longs need the nanos restoration.
    arrived_long = {
        f.name for f in df.schema.fields if f.dataType.typeName() == "long"
    }
    nanos = set(_nano_timestamp_columns(path)) & arrived_long
    ntz = {f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"}
    if not nanos and not ntz:
        return df
    # integer `div`, not `/`: nano epochs (~1.7e18) exceed double's exact
    # integer range, so float division would corrupt the microseconds
    exprs = [
        F.timestamp_micros(F.expr(f"`{c}` div 1000")).alias(c)
        if c in nanos
        else (F.col(c).cast("timestamp").alias(c) if c in ntz else F.col(c))
        for c in df.columns
    ]
    return df.select(*exprs)


def validate_sf_dir(
    sf_dir: str,
    names: Optional[Iterable[str]] = None,
    allow_partial: bool = False,
) -> None:
    """Reject a probe-scoped PARTIAL scale directory used as a full one.

    ``scripts/make_scale.py --tables ...`` replicates only the named
    tables and stamps that subset in the dest's ``_scale_meta.json``
    (``tables`` key; ``None`` means all). Without this check a partial
    dir passed as a full sf directory fails only via missing-file
    errors — or silently succeeds for queries touching only the
    replicated tables, producing numbers that look like a full-corpus
    run. Callers that WANT a subset pass the tables they need in
    ``names`` (allowed when covered by the stamp) or
    ``allow_partial=True``. Directories without a stamp (the driver's
    own testdata) are always accepted.
    """
    meta_path = os.path.join(sf_dir, "_scale_meta.json")
    if allow_partial or not os.path.exists(meta_path):
        return
    import json

    with open(meta_path) as fh:
        stamped = json.load(fh).get("tables")
    if stamped is None:
        return
    needed = set(names) if names is not None else set(TABLE_NAMES)
    missing = needed - set(stamped)
    if missing:
        raise ValueError(
            f"{sf_dir} is a partial scale directory (only "
            f"{sorted(stamped)} replicated) but {sorted(missing)} "
            "is/are needed — regenerate without --tables, request only "
            "the stamped tables, or pass allow_partial=True"
        )


def sf_path(sf_dir: str, name: str) -> str:
    """Where driver table ``name`` lives in ``sf_dir``: one parquet each."""
    return os.path.join(sf_dir, f"{name}.parquet")


def sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read driver table ``name`` from ``sf_dir`` — the one table reader
    every registered query and script goes through."""
    return read_parquet(spark, sf_path(sf_dir, name))


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: Optional[Iterable[str]] = None,
) -> Dict[str, DataFrame]:
    """Load the driver testdata tables from ``sf_dir`` (the ones present)."""
    validate_sf_dir(sf_dir, names)
    return {
        name: sf_table(spark, sf_dir, name)
        for name in (tuple(names) if names else TABLE_NAMES)
        if os.path.exists(sf_path(sf_dir, name))
    }
