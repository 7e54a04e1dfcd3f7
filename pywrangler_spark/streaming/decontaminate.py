"""Streaming decontamination — annotate an unbounded document stream
with its n-gram overlap against a static eval/benchmark set.

The batch operator (``operators.decontaminate``) counts overlap via
explode -> broadcast join -> per-doc aggregation. On a stream that
aggregation would be STATEFUL (a per-doc groupBy needs watermark state
and delays append-mode output), so the streaming variant trades it for
a stateless per-row annotation:

- the eval set's distinct gram hashes are computed ONCE in batch (the
  same md5/56-bit scheme) and shipped to executors as a broadcast
  variable — eval benchmarks are small by nature, this is exactly the
  broadcast-build-side position they occupy in the batch plan;
- each micro-batch row is scored by an Arrow-batched pandas UDF doing a
  set intersection against the broadcast grams. Zero state, append
  mode, no watermark required.

The Python hot path is the deliberate cost of statelessness here; the
per-row work is a tokenize + set-probe over a few hundred tokens, and
Arrow batching keeps the transfer vectorized. The gram semantics are
pinned to the batch/Spark/pandas engines by the shared md5 scheme
(cross-engine tests in ``tests/test_pandas_engine.py``), so stream and
batch flags agree row-for-row.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pywrangler_spark.operators.dedup import gram_hash_stream


def stream_contamination_flag(
    eval_df: DataFrame,
    text_column: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> Callable[[DataFrame], DataFrame]:
    """Append ``n_overlap`` / ``contaminated`` to a streaming DataFrame.

    ``eval_df`` must be a BATCH DataFrame (the static benchmark set);
    its distinct gram hashes are collected and broadcast at plan-build
    time. Documents shorter than ``n`` words are always clean.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    if eval_df.isStreaming:
        raise ValueError("eval_df must be a static (batch) DataFrame")

    eval_grams = frozenset(
        r["_gh"]
        for r in gram_hash_stream(eval_df, text_column, n)
        .distinct()
        .collect()
    )
    bc = eval_df.sparkSession.sparkContext.broadcast(eval_grams)

    # python twin of the jvm-side gram pipeline — md5-identical
    from pywrangler_spark.pandas_engine import _gram_hashes_py

    @pandas_udf("long")
    def _n_overlap(texts: pd.Series) -> pd.Series:
        grams = bc.value
        return pd.Series(
            [
                len(_gram_hashes_py(t, n) & grams) if t is not None else 0
                for t in texts
            ],
            dtype="int64",
        )

    def _transform(sdf: DataFrame) -> DataFrame:
        out = sdf.select(
            "*", _n_overlap(F.col(text_column)).alias("n_overlap")
        )
        return out.select(
            "*", (F.col("n_overlap") >= min_overlap).alias("contaminated")
        )

    _transform.__name__ = "stream_contamination_flag"
    return _transform
