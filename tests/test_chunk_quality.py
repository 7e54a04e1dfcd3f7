"""Document chunking + percentile quality gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pywrangler_spark.operators.chunk import (
    chunk_content_defined,
    chunk_documents,
)
from pywrangler_spark.operators.quality import percentile_gate


class TestChunking:
    def test_offsets_and_reassembly(self, spark):
        text = "abcdefghij" * 10  # 100 chars
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        out = (
            df.transform(chunk_documents("doc_id", "text", 30, 0))
            .orderBy("chunk_index")
            .collect()
        )
        assert [r.chunk_start for r in out] == [1, 31, 61, 91]
        assert "".join(r.chunk for r in out) == text
        assert [len(r.chunk) for r in out] == [30, 30, 30, 10]

    def test_overlap(self, spark):
        df = spark.createDataFrame([(1, "0123456789")], ["doc_id", "text"])
        out = (
            df.transform(chunk_documents("doc_id", "text", 6, 2))
            .orderBy("chunk_index")
            .collect()
        )
        # step 4: starts 1, 5, 9
        assert [(r.chunk_start, r.chunk) for r in out] == [
            (1, "012345"), (5, "456789"), (9, "89")]

    def test_empty_and_null_drop(self, spark):
        df = spark.createDataFrame(
            [(1, ""), (2, None), (3, "x")], ["doc_id", "text"]
        )
        out = df.transform(chunk_documents("doc_id", "text", 5)).collect()
        assert [(r.doc_id, r.chunk) for r in out] == [(3, "x")]

    def test_validation(self):
        with pytest.raises(ValueError, match="chunk_size"):
            chunk_documents("id", "t", 0)
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents("id", "t", 5, 5)


def _h56(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


def _cdc_model(tokens, avg):
    """Reference model of the boundary rule (pure Python md5)."""
    h = [_h56(t) for t in tokens]
    cuts = [
        i
        for i in range(1, len(tokens))
        if (h[i - 1] * 31 + h[i]) % avg == 0
    ]
    starts = [0] + cuts
    ends = cuts + [len(tokens)]
    return [" ".join(tokens[s:e]) for s, e in zip(starts, ends)], starts


def _mk_words(seed, n):
    import random

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    return [rng.choice(vocab) for _ in range(n)]


class TestContentDefinedChunking:
    AVG = 4

    def test_matches_reference_model(self, spark):
        toks = _mk_words(7, 200)
        expected_chunks, expected_starts = _cdc_model(toks, self.AVG)
        assert len(expected_chunks) > 5  # rule actually fires
        df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
        out = (
            df.transform(
                chunk_content_defined("doc_id", "text", avg_tokens=self.AVG)
            )
            .orderBy("chunk_index")
            .collect()
        )
        assert [r.chunk for r in out] == expected_chunks
        assert [r.token_start for r in out] == expected_starts
        assert [r.n_tokens for r in out] == [
            len(c.split(" ")) for c in expected_chunks
        ]

    def test_reassembly(self, spark):
        toks = _mk_words(11, 150)
        df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
        out = (
            df.transform(
                chunk_content_defined("doc_id", "text", avg_tokens=self.AVG)
            )
            .orderBy("chunk_index")
            .collect()
        )
        assert " ".join(r.chunk for r in out) == " ".join(toks)

    def test_boundaries_realign_after_insertion(self, spark):
        # the CDC property: prepending one token shifts every fixed
        # window, but content-defined chunks re-align after the first
        # boundary — all of A's chunks past its first are a literal
        # tail of B's chunk list
        toks = _mk_words(13, 200)
        a = " ".join(toks)
        b = " ".join(["inserted"] + toks)
        df = spark.createDataFrame(
            [(1, a), (2, b)], ["doc_id", "text"]
        )
        out = df.transform(
            chunk_content_defined("doc_id", "text", avg_tokens=self.AVG)
        ).collect()
        ca = [r.chunk for r in sorted(out, key=lambda r: r.chunk_index)
              if r.doc_id == 1]
        cb = [r.chunk for r in sorted(out, key=lambda r: r.chunk_index)
              if r.doc_id == 2]
        assert len(ca) > 5
        assert cb[-(len(ca) - 1):] == ca[1:]

    def test_degenerate_docs(self, spark):
        df = spark.createDataFrame(
            [(1, ""), (2, None), (3, "solo"), (4, "  two  words ")],
            ["doc_id", "text"],
        )
        out = df.transform(
            chunk_content_defined("doc_id", "text", avg_tokens=self.AVG)
        ).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        assert set(by_doc) == {3, 4}
        assert by_doc[3][0].chunk == "solo"
        assert " ".join(
            r.chunk
            for r in sorted(by_doc[4], key=lambda r: r.chunk_index)
        ) == "two words"

    def test_validation(self):
        with pytest.raises(ValueError, match="avg_tokens"):
            chunk_content_defined("id", "t", avg_tokens=1)


class TestPercentileGate:
    def test_exact_band(self, spark):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 101)], ["id", "x"]
        )
        out = df.transform(
            percentile_gate({"x": (0.10, 0.90)}, exact=True)
        )
        kept = sorted(r.id for r in out.collect())
        # exact percentiles of 1..100 at .1/.9 = 10.9 / 90.1 -> keep 11..90
        assert kept == list(range(11, 91))

    def test_one_sided_and_multi_column(self, spark):
        df = spark.createDataFrame(
            [(i, float(i), float(100 - i)) for i in range(1, 101)],
            ["id", "x", "y"],
        )
        out = df.transform(
            percentile_gate({"x": (0.5, None), "y": (0.25, None)},
                            exact=True)
        )
        kept = sorted(r.id for r in out.collect())
        # x >= p50(x)=50.5 and y=100-i >= p25(y)=24.75 -> 51..75
        assert kept == list(range(51, 76))

    def test_approx_close_to_exact(self, spark):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 1001)], ["id", "x"]
        )
        n_exact = df.transform(
            percentile_gate({"x": (0.05, 0.95)}, exact=True)
        ).count()
        n_approx = df.transform(
            percentile_gate({"x": (0.05, 0.95)})
        ).count()
        assert abs(n_exact - n_approx) <= 20

    def test_validation(self):
        with pytest.raises(ValueError, match="at least one"):
            percentile_gate({})
        with pytest.raises(ValueError, match="out of"):
            percentile_gate({"x": (0.1, 1.5)})


class TestCdcNearDupPairs:
    def test_insertion_still_pairs(self, spark):
        """The CDC selling point end to end: a document with one
        inserted token still shares its chunks outside the edit, so
        the pair survives the shared-chunk floor."""
        import random

        from pyspark.sql import Row

        from pywrangler_spark.operators.dedup import (
            cdc_chunk_neardup_pairs,
        )

        rng = random.Random(13)
        base = " ".join(f"w{rng.randrange(5000)}" for _ in range(400))
        toks = base.split(" ")
        edited = " ".join(toks[:200] + ["INSERTED"] + toks[200:])
        unrelated = " ".join(
            f"z{rng.randrange(5000)}" for _ in range(400)
        )
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=base),
                Row(doc_id=2, text=edited),
                Row(doc_id=3, text=unrelated),
            ]
        )
        pairs = {
            (r.id_a, r.id_b): r.n_shared
            for r in df.transform(
                cdc_chunk_neardup_pairs("doc_id", "text")
            ).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] >= 2
        assert not any(3 in p for p in pairs)

    def test_validation(self):
        from pywrangler_spark.operators.dedup import (
            cdc_chunk_neardup_pairs,
        )

        with pytest.raises(ValueError, match="min_shared"):
            cdc_chunk_neardup_pairs("id", "t", min_shared=0)
        with pytest.raises(ValueError, match="max_chunk_docs"):
            cdc_chunk_neardup_pairs("id", "t", max_chunk_docs=1)
