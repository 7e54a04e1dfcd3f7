"""Multimodal (binary-column) queries over ``documents``.

``multimodal_blob_stats`` stays JVM-side (metadata-only plan over the
blob) and is oracle-checked. ``multimodal_features`` exercises the real
Arrow-batched ``mapInPandas`` path (fake decoder — see
``operators.multimodal``); its per-byte statistics are not reasonably
SQL-expressible, so the driver records the rows-only check for it while
the test suite pins exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywrangler_spark.operators.multimodal import (
    attach_blob,
    extract_blob_features,
)
from pywrangler_spark.queries import register
from pywrangler_spark.sources import sf_table


_BLOB_STATS_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       hex(encode(substring(text, 1, 8))) AS head_hex,
       md5(text) AS content_md5,
       'raw/utf-8' AS format
FROM documents
"""


@register("multimodal_blob_stats", oracle=_BLOB_STATS_ORACLE)
def multimodal_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_blob = sf_table(spark, sf_dir, "documents").transform(attach_blob("text"))
    return with_blob.select(
        "doc_id",
        F.col("blob_meta.n_bytes").alias("n_bytes"),
        F.hex(F.encode(F.substring("text", 1, 8), "utf-8")).alias("head_hex"),
        F.md5("text").alias("content_md5"),
        F.col("blob_meta.format").alias("format"),
    )


# The fake decoder's byte statistics ARE oracle-expressible because the
# corpus is pure ASCII (verified: 0 docs where octet_length != length),
# so DuckDB char codes == blob bytes. Integer byte sums stay exact in
# f64 (≤ 553×255 ≪ 2^53), so byte_mean is bit-identical across engines.
# What this checks end-to-end: the Arrow mapInPandas batching, the
# schema, and the per-row feature math — the real decode step stays a
# stub (operators/multimodal.py).
_FEATURES_ORACLE = """
WITH codes AS (
    SELECT doc_id,
           text,
           list_transform(regexp_split_to_array(text, ''),
                          c -> ord(c)) AS cs
    FROM documents
)
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       -- empty docs: the decoder emits zeros, never NULL/-1
       -- (regexp_split_to_array('','') is [''] and ord('') is -1, so
       -- the empty case must be branched explicitly)
       CASE WHEN len(text) = 0 THEN 0.0
            ELSE CAST(list_avg(cs) AS DOUBLE) END AS byte_mean,
       CASE WHEN len(text) = 0 THEN 0
            ELSE CAST(list_min(cs) AS INT) END AS byte_min,
       CASE WHEN len(text) = 0 THEN 0
            ELSE CAST(list_max(cs) AS INT) END AS byte_max,
       CASE WHEN len(text) = 0 THEN 0
            ELSE CAST(list_sum(list_transform(
                    regexp_split_to_array(substring(text, 1, 64), ''),
                    c -> ord(c))) AS BIGINT) END AS head_checksum
FROM codes
"""


@register("multimodal_features", oracle=_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_blob = sf_table(spark, sf_dir, "documents").transform(attach_blob("text"))
    return with_blob.transform(
        extract_blob_features("doc_id", "blob", decoder="fake")
    )
