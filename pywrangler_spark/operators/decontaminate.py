"""Benchmark decontamination — flag corpus documents that share word
n-grams with an evaluation/benchmark set.

The standard pre-training hygiene step: any training document that
contains an n-gram (n around 8-13 for real corpora) from an evaluation
benchmark leaks test data into the model and must be dropped or masked.

Plan shape (the one that survives 100 TB):

1. The eval set is tiny relative to the corpus, so its distinct n-gram
   hashes become a **broadcast** build side — no shuffle of corpus text.
2. The corpus side is a scan-side explode of n-gram *hashes* (56-bit
   md5-derived longs, never the n-gram strings — the dedup family's
   shared ``operators.dedup.gram_hash_stream``) followed by the
   broadcast hash join. Only MATCHED (doc_id, gram_hash) pairs — a tiny
   fraction of the corpus — reach the aggregation exchange.
3. The per-doc overlap count joins back to the input on doc id; the
   matched side is small, so AQE converts that join to a broadcast at
   runtime.

Reference parity: the reference (a single-operator wrangler library)
has no corpus operators; this fills the decontamination slot of a
training-data pipeline (cf. the n-gram-overlap procedure in the GPT-3 /
PaLM appendix descriptions — public methodology).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywrangler_spark.operators.dedup import gram_hash_stream


def contamination_overlap(
    eval_df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> Callable[[DataFrame], DataFrame]:
    """Annotate each corpus row with its n-gram overlap vs ``eval_df``.

    Appends two columns:

    - ``n_overlap`` — number of DISTINCT eval n-grams the document
      contains (long, 0 when clean);
    - ``contaminated`` — ``n_overlap >= min_overlap``.

    ``eval_df`` only needs ``text_column``. Documents shorter than ``n``
    words have no n-grams and are always clean.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")

    def _transform(df: DataFrame) -> DataFrame:
        eval_grams = gram_hash_stream(eval_df, text_column, n).distinct()
        corpus_grams = gram_hash_stream(df, text_column, n, id_column)
        # broadcast the eval-gram set: the corpus never shuffles here,
        # and only matched grams continue to the aggregation
        # plain count: corpus grams are per-doc distinct (array_distinct
        # in the shingle helper) and the eval side is .distinct(), so the
        # matched (_id, _gh) pairs are already unique — a distinct
        # aggregate would force two-phase aggregation for no gain
        matched = (
            corpus_grams.join(F.broadcast(eval_grams), "_gh")
            .groupBy("_id")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
        )
        out = df.join(
            matched.withColumnRenamed("_id", id_column), id_column, "left"
        )
        n_ov = F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long")
        return out.select(
            *df.columns,
            n_ov.alias("n_overlap"),
            (n_ov >= min_overlap).alias("contaminated"),
        )

    _transform.__name__ = "contamination_overlap"
    return _transform
