"""Structured Streaming variants of the batch operators.

The stateful twins (intervals, caps, sequence packing and pack
rendering, trailing windows, resample/LOCF, MinHash near-dup) are each a
pure per-key ``step(key, batch, state) -> (state, out)`` run by one
core, :func:`pywrangler_spark.streaming.keyed.keyed_state`.
"""

from pywrangler_spark.streaming.caps import stream_cap_per_key
from pywrangler_spark.streaming.chunk import stream_chunk_content_defined
from pywrangler_spark.streaming.pack import (
    stream_pack_sequences,
    stream_render_packs,
)
from pywrangler_spark.streaming.web import (
    stream_url_canonicalize,
    stream_webclean,
)
from pywrangler_spark.streaming.cardinality import stream_window_cardinality
from pywrangler_spark.streaming.classify import (
    stream_classify_gate,
    stream_nearest_centroid,
)
from pywrangler_spark.streaming.decontaminate import stream_contamination_flag
from pywrangler_spark.streaming.dedup import (
    stream_dedup_exact,
    stream_dedup_incremental,
)
from pywrangler_spark.streaming.interval import stream_identify_intervals
from pywrangler_spark.streaming.neardup import (
    stream_neardup_minhash,
    stream_signatures,
)
from pywrangler_spark.streaming.join import stream_interval_join
from pywrangler_spark.streaming.lmscore import stream_lm_score
from pywrangler_spark.streaming.sink import idempotent_parquet_sink
from pywrangler_spark.streaming.resample import stream_resample_locf
from pywrangler_spark.streaming.rolling import stream_trailing_window_agg
from pywrangler_spark.streaming.rollup import stream_time_bucket_rollup
from pywrangler_spark.streaming.sessionize import stream_session_stats

__all__ = [
    "stream_session_stats",
    "stream_identify_intervals",
    "stream_time_bucket_rollup",
    "stream_dedup_exact",
    "stream_dedup_incremental",
    "stream_neardup_minhash",
    "stream_signatures",
    "stream_interval_join",
    "stream_window_cardinality",
    "stream_contamination_flag",
    "stream_lm_score",
    "stream_classify_gate",
    "stream_nearest_centroid",
    "stream_cap_per_key",
    "stream_chunk_content_defined",
    "stream_pack_sequences",
    "stream_render_packs",
    "stream_url_canonicalize",
    "stream_webclean",
    "stream_resample_locf",
    "stream_trailing_window_agg",
    "idempotent_parquet_sink",
]
