"""ContainmentPairs: asymmetric (overlap-coefficient) near-dup detection.

The hand-computable fixtures pin the semantics the DuckDB oracle
replicates: distinct 3-word shingles, overlap coefficient
|∩| / min(|A|, |B|), and the deterministic document-frequency cap that
drops hot shingles BEFORE the self-join.
"""

import pytest

from pyspark.sql import functions as F

from pywrangler_spark.operators.dedup import (
    ContainmentPairs,
    containment_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


SMALL = "a b c d e f g h i j"  # 10 words → 8 distinct shingles
BIG = SMALL + " k l m n o p q r s t"  # 20 words → 18; contains all of SMALL


class TestContainment:
    def test_small_doc_in_big_doc_is_containment_one(self, spark):
        df = _docs(spark, [SMALL, BIG, "z y x w v u"])
        rows = df.transform(
            containment_pairs("doc_id", "text", threshold=0.9)
        ).collect()
        assert [(r.id_a, r.id_b) for r in rows] == [(0, 1)]
        assert rows[0].containment == pytest.approx(1.0)

    def test_jaccard_misses_what_containment_catches(self, spark):
        """The reason this operator exists: full embedding of a short doc
        in a long one has Jaccard |A|/|B| (here 8/18 ≈ 0.44) — below any
        near-dup threshold — but containment exactly 1.0."""
        df = _docs(spark, [SMALL, BIG])
        jac = df.transform(
            ngram_jaccard_pairs("doc_id", "text", threshold=0.9)
        )
        assert jac.count() == 0
        jac_val = (
            df.transform(
                ngram_jaccard_pairs("doc_id", "text", threshold=0.0)
            )
            .collect()[0]
            .jaccard
        )
        assert jac_val == pytest.approx(8 / 18)

    def test_partial_containment_value(self, spark):
        # B shares shingles abc..fgh (6 of A's 8): A = a..j, C = a..h + noise
        a = "a b c d e f g h i j"  # shingles abc..hij (8)
        c = "a b c d e f g h zz yy xx"  # shingles abc..fgh, gh-zz…: f gh zz, …
        df = _docs(spark, [a, c])
        rows = df.transform(
            containment_pairs("doc_id", "text", threshold=0.0)
        ).collect()
        assert len(rows) == 1
        # shared: abc bcd cde def efg fgh (6); |A|=8, |C|=9 → 6/8
        assert rows[0].containment == pytest.approx(6 / 8)

    def test_max_df_drops_boilerplate_only_pairs(self, spark):
        """Two docs whose ONLY shared shingle is boilerplate present in
        every doc: uncapped finds the pair (the 3-word doc is trivially
        contained), the df cap removes it before the join."""
        boiler = "boiler plate sig"
        texts = [boiler, "y1 y2 " + boiler] + [
            f"q{i} r{i} s{i} t{i} " + boiler for i in range(10)
        ]
        df = _docs(spark, texts)
        uncapped = df.transform(
            containment_pairs("doc_id", "text", threshold=0.9)
        )
        # doc 0 is exactly the boilerplate shingle → contained everywhere
        assert uncapped.filter(F.col("id_a") == 0).count() == len(texts) - 1
        capped = df.transform(
            containment_pairs("doc_id", "text", threshold=0.9, max_df=10)
        )
        assert capped.filter(
            (F.col("id_a") == 0) | (F.col("id_b") == 0)
        ).count() == 0

    def test_max_df_noop_when_cap_does_not_bind(self, spark):
        df = _docs(spark, [SMALL, BIG, "z y x w v u"])
        base = sorted(
            df.transform(
                containment_pairs("doc_id", "text", threshold=0.0)
            ).collect()
        )
        capped = sorted(
            df.transform(
                containment_pairs(
                    "doc_id", "text", threshold=0.0, max_df=100
                )
            ).collect()
        )
        assert base == capped

    def test_max_df_validation(self):
        with pytest.raises(ValueError, match="max_df"):
            ContainmentPairs("doc_id", "text", max_df=1)

    def test_cache_release(self, spark, persistent_rdds):
        df = _docs(spark, [SMALL, BIG, "z y x w v u"])
        before = persistent_rdds()
        op = ContainmentPairs("doc_id", "text", threshold=0.9, max_df=10)
        result = df.transform(op)
        n = result.count()
        cached = persistent_rdds() - before
        assert len(cached) == 2  # raw shingle stream + df-capped stream
        op.release()
        assert not cached & persistent_rdds()
        assert result.count() == n

    def test_short_docs_yield_no_pairs(self, spark):
        df = _docs(spark, ["a b", "a b", ""])  # < k words → no shingles
        assert (
            df.transform(
                containment_pairs("doc_id", "text", threshold=0.0)
            ).count()
            == 0
        )
        # zero-word documents have no grams at any k: at k=1 their
        # tokenization [''] must not become a shared gram, signature or
        # sketch (ids 1 and 2 used to pair at similarity 1.0 / hamming 0)
        empty = _docs(spark, ["x", "", "   "])
        for op in (
            ngram_jaccard_pairs("doc_id", "text", shingle_k=1, threshold=0.0),
            containment_pairs("doc_id", "text", shingle_k=1, threshold=0.0),
            minhash_lsh_pairs(
                "doc_id", "text", shingle_k=1, min_signature_similarity=0.0
            ),
            simhash_near_pairs("doc_id", "text", max_hamming=1),
        ):
            assert empty.transform(op).collect() == []
