"""Streaming MinHash near-duplicate detection — the incremental analog
of ``operators.dedup.MinHashLSHPairs``.

The batch operator's pieces split cleanly along the stream/state line:

- **signatures are stateless scan-side column expressions** (the batch
  operator's own ``operators.dedup.signature_columns`` and
  ``minhash_bands`` — no UDF, no shuffle), so every micro-batch computes
  them as it arrives;
- **band-bucket membership is the state**: the stream groups by
  ``(band, band_hash)`` and each bucket's state (``streaming.keyed``)
  keeps the ``(id, signature)`` list of documents hashed there.
  A new document emits a candidate pair against every current member,
  scored by full-signature agreement, then joins the bucket.

Output rows are ``(id_a, id_b, sig_similarity)`` with ``id_a < id_b``
and similarity ≥ the threshold — the batch operator's schema. One pair
can surface from SEVERAL buckets (documents that collide in two bands
emit twice — per-bucket state cannot see other buckets); batch mode
dedups these with a global ``dropDuplicates``, which append-mode
streaming state cannot express, so cross-bucket uniqueness is the
consumer's contract: an idempotent sink keyed on ``(id_a, id_b)``
(``streaming.sink.idempotent_parquet_sink``) or a downstream
``dropDuplicates`` absorbs them exactly-once.

State is bounded per bucket by ``max_bucket_size`` (oldest-kept, like
the batch candidate cap): a hot bucket — the all-identical-documents
shape — stops growing at the cap, trading recall of *additional*
copies for bounded state, the same hot-key discipline as the batch
operator's distinct-signature collapse. Buckets never expire by
default (near-dup is a whole-corpus contract); re-shard the corpus
periodically if the bucket domain itself is unbounded.

Replay idempotence: a re-ingested id emits nothing as long as it is
remembered. Members remember themselves; docs that arrive while the
bucket is full are remembered in a separate capped FIFO id window
(``16 * max_bucket_size`` ids), so the guarantee is *idempotent for
docs within the bucket capacity plus the overflow window* — a replay
older than the window on a hot bucket re-emits that doc's pairs, and
the idempotent sink keyed on ``(id_a, id_b)`` absorbs them, the same
contract as cross-bucket duplicate emissions.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pywrangler_spark.operators.dedup import (
    minhash_bands,
    signature_columns,
)
from pywrangler_spark.streaming.keyed import keyed_state


def stream_signatures(
    id_column: str,
    text_column: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> Callable[[DataFrame], DataFrame]:
    """MinHash signatures ``(_id, _sig)`` for a streaming DataFrame —
    the batch ``signature_columns`` pipeline without the batch
    ``_scale_out`` repartition (micro-batches inherit source
    parallelism; forcing a shuffle per micro-batch would serialize the
    trigger). Documents with fewer than ``shingle_k`` words drop, as in
    batch."""

    def _transform(sdf: DataFrame) -> DataFrame:
        return signature_columns(
            sdf, id_column, text_column, num_hashes, shingle_k, seed
        )

    return _transform


def stream_neardup_minhash(
    id_column: str,
    text_column: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    seed: int = 42,
    min_signature_similarity: float = 0.5,
    max_bucket_size: int = 1024,
) -> Callable[[DataFrame], DataFrame]:
    """Near-duplicate candidate pairs on a stream: emits
    ``(id_a, id_b, sig_similarity)`` (``id_a < id_b``, possibly
    repeated across band buckets — see module docstring) as documents
    arrive. Ids must be integral (they ride the state as longs).

    ``df.transform(stream_neardup_minhash("doc_id", "text"))``
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if not 0.0 <= min_signature_similarity <= 1.0:
        raise ValueError("min_signature_similarity must be in [0, 1]")
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2")
    threshold = float(min_signature_similarity)

    overflow_cap = 16 * max_bucket_size

    def _probe(key, batch, stored):
        if stored is None:
            members = []  # list of (id, signature ndarray)
            overflow = []  # capped FIFO of ids seen past the cap
        elif isinstance(stored, dict):
            members, overflow = stored["members"], stored["overflow"]
        else:  # pre-overflow state layout: bare member list
            members, overflow = stored, []
        # membership is keyed by doc id: a re-ingested id has an
        # identical signature by construction, so appending it again
        # would only inflate state toward max_bucket_size (evicting
        # capacity for genuinely new docs) and re-emit its pairs.
        # Docs arriving while the bucket is full are remembered in
        # the overflow id window so THEIR replays are no-ops too —
        # up to overflow_cap ids (see module docstring).
        seen_ids = {m[0] for m in members} | set(overflow)
        out_a, out_b, out_s = [], [], []
        for doc_id, sig in zip(
            batch["_id"].to_numpy(), batch["_sig"].to_numpy()
        ):
            if int(doc_id) in seen_ids:
                continue
            sig = np.asarray(sig, dtype="int64")
            if members:
                known_ids = np.fromiter(
                    (m[0] for m in members), dtype="int64"
                )
                mat = np.stack([m[1] for m in members])
                sims = (mat == sig).mean(axis=1)
                hit = (sims >= threshold) & (known_ids != doc_id)
                for mid, s in zip(known_ids[hit], sims[hit]):
                    out_a.append(min(int(mid), int(doc_id)))
                    out_b.append(max(int(mid), int(doc_id)))
                    out_s.append(float(s))
            if len(members) < max_bucket_size:
                members.append((int(doc_id), sig))
            else:
                overflow.append(int(doc_id))
            seen_ids.add(int(doc_id))
        out = pd.DataFrame(
            {
                "id_a": pd.Series(out_a, dtype="int64"),
                "id_b": pd.Series(out_b, dtype="int64"),
                "sig_similarity": pd.Series(out_s, dtype="float64"),
            }
        )
        return {"members": members, "overflow": overflow[-overflow_cap:]}, out

    def _transform(sdf: DataFrame) -> DataFrame:
        if not sdf.isStreaming:
            raise ValueError(
                "stream_neardup_minhash expects a streaming DataFrame; "
                "use operators.dedup.minhash_lsh_pairs for batch"
            )
        sigs = sdf.transform(
            stream_signatures(
                id_column, text_column, num_hashes, shingle_k, seed
            )
        )
        return keyed_state(
            minhash_bands(sigs, ["_id", "_sig"], num_hashes, bands),
            ["band", "bh"],
            "id_a long, id_b long, sig_similarity double",
            _probe,
            # deterministic intra-batch order so replays emit the same
            # pairs (micro-batch row order is not guaranteed)
            order=["_id"],
        )

    _transform.__name__ = "stream_neardup_minhash"
    return _transform
