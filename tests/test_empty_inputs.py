"""Empty-input robustness: every transform must plan and execute on a
zero-row frame (right schema, no rows) without raising, and return zero
rows. At 100 TB, empty partitions/filters-to-nothing are routine — an
operator that throws on them kills a whole pipeline run."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_events(spark):
    return spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )


def test_sessionize_empty(empty_events):
    from pywrangler_spark.operators.sessionize import sessionize_gap

    assert empty_events.transform(
        sessionize_gap("ts", 3600.0, "user_id")
    ).count() == 0


def test_intervals_empty(empty_events):
    from pywrangler_spark.operators.interval_identifier import (
        identify_intervals,
    )

    out = empty_events.transform(
        identify_intervals(
            marker_column="event_type",
            marker_start="signup",
            marker_end="purchase",
            groupby_columns="user_id",
            orderby_columns="ts",
        )
    )
    assert out.count() == 0


def test_resample_empty(empty_events):
    from pywrangler_spark.operators.resample import resample_locf

    assert empty_events.transform(
        resample_locf("ts", 3600, "user_id", "value")
    ).count() == 0


def test_resample_runs_empty(empty_events):
    from pywrangler_spark.operators.resample import (
        resample_locf,
        runs_to_dense,
    )

    runs = empty_events.transform(
        resample_locf("ts", 3600, "user_id", "value", output="runs")
    )
    assert runs.count() == 0
    assert runs.transform(
        runs_to_dense(3600, "user_id", "value")
    ).count() == 0


def test_asof_empty_both_sides(empty_events):
    from pywrangler_spark.operators.asof import asof_join

    right = empty_events.select(
        "user_id", "ts", F.col("value").alias("qv")
    )
    out = empty_events.transform(
        asof_join(right, on="user_id", left_ts="ts", right_ts="ts")
    )
    assert out.count() == 0


def test_rangejoin_empty(empty_events):
    from pywrangler_spark.operators.rangejoin import range_join

    intervals = empty_events.select(
        "user_id",
        F.col("ts").alias("lo"),
        F.col("ts").alias("hi"),
    )
    out = empty_events.transform(
        range_join(intervals, "ts", "lo", "hi", on="user_id")
    )
    assert out.count() == 0


def test_dedup_family_empty(empty_docs):
    from pywrangler_spark.operators.dedup import (
        dedup_exact,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_table,
    )

    assert empty_docs.transform(dedup_exact("doc_id", "text")).count() == 0
    assert (
        empty_docs.transform(minhash_lsh_pairs("doc_id", "text")).count() == 0
    )
    assert (
        empty_docs.transform(
            ngram_jaccard_pairs("doc_id", "text")
        ).count() == 0
    )
    assert empty_docs.transform(simhash_table("doc_id", "text")).count() == 0


def test_chunking_empty(empty_docs):
    from pywrangler_spark.operators.chunk import (
        chunk_by_tokens,
        chunk_documents,
    )

    assert (
        empty_docs.transform(chunk_documents("doc_id", "text")).count() == 0
    )
    assert (
        empty_docs.transform(chunk_by_tokens("doc_id", "text")).count() == 0
    )


def test_sampling_empty(empty_docs):
    from pywrangler_spark.operators.sampling import (
        cap_per_key,
        hash_split,
        stratified_exact_sample,
    )

    assert (
        empty_docs.transform(
            hash_split("doc_id", {"train": 0.9, "test": 0.1})
        ).count() == 0
    )
    assert (
        empty_docs.transform(
            stratified_exact_sample("source", 0.5, "doc_id")
        ).count() == 0
    )
    assert (
        empty_docs.transform(cap_per_key("source", 5, "doc_id")).count() == 0
    )


def test_latest_family_empty(empty_events):
    from pywrangler_spark.operators.latest import (
        drop_unchanged,
        latest_by_key,
        scd2_from_changelog,
    )

    assert (
        empty_events.transform(latest_by_key("user_id", "ts")).count() == 0
    )
    assert (
        empty_events.transform(
            drop_unchanged("user_id", "ts", ["value"])
        ).count() == 0
    )
    assert (
        empty_events.transform(
            scd2_from_changelog("user_id", "ts")
        ).count() == 0
    )


def test_similarity_empty(spark):
    import numpy as np

    from pywrangler_spark.operators.similarity import (
        topk_cosine,
        topk_cosine_ivfpq,
        topk_cosine_lsh,
        topk_cosine_pq,
    )

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert emb.transform(topk_cosine("vec_id", "embedding")).count() == 0
    # LSH needs dim (no data to probe on an empty frame)
    assert (
        emb.transform(
            topk_cosine_lsh("vec_id", "embedding", dim=8)
        ).count() == 0
    )
    # a filter that matches no row of a non-empty corpus: the tiers that
    # collect the query set driver-side return the empty ranked frame
    # (model artifacts passed in, so nothing is fitted)
    rng = np.random.RandomState(0)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    none = F.col("vec_id") < 0
    books = rng.standard_normal((4, 8, 2))
    cents = np.eye(4, 8)
    tiers = [
        ("cosine", topk_cosine("vec_id", "embedding", query_filter=none)),
        ("cosine_pq", topk_cosine_pq(
            "vec_id", "embedding", m=4, codebook_k=8, query_filter=none,
            codebooks=books,
        )),
        ("cosine_pq", topk_cosine_pq(
            "vec_id", "embedding", m=4, codebook_k=8, query_filter=none,
            codebooks=books, rerank=2,
        )),
        ("cosine_pq", topk_cosine_ivfpq(
            "vec_id", "embedding", n_centroids=4, n_probe=2, m=4,
            codebook_k=8, query_filter=none, centroids=cents,
            codebooks=books,
        )),
    ]
    for score, tier in tiers:
        out = corpus.transform(tier)
        assert out.columns == ["query_id", "neighbor_id", score, "rank"]
        assert out.count() == 0


def test_trend_fill_empty(empty_events):
    from pywrangler_spark.operators.fill import ffill
    from pywrangler_spark.operators.trend import group_trend

    assert (
        empty_events.transform(
            group_trend("ts", "value", "user_id")
        ).count() == 0
    )
    assert (
        empty_events.transform(
            ffill("value", "user_id", "ts")
        ).count() == 0
    )


def test_round3_operators_empty(spark, empty_docs, empty_events):
    from pywrangler_spark.operators.bpe import bpe_encode
    from pywrangler_spark.operators.dedup import simhash_near_pairs
    from pywrangler_spark.operators.spandedup import (
        excise_duplicate_spans,
        mask_duplicate_spans,
    )
    from pywrangler_spark.sources.layout import zorder_code

    assert empty_docs.transform(
        simhash_near_pairs("doc_id", "text")
    ).count() == 0
    assert empty_docs.transform(
        mask_duplicate_spans("doc_id", "text")
    ).count() == 0
    assert empty_docs.transform(
        excise_duplicate_spans("doc_id", "text")
    ).count() == 0
    # merge table may come from another corpus; an empty frame encodes
    # to zero rows
    assert empty_docs.transform(
        bpe_encode([("a", "b")], "text")
    ).count() == 0
    # explicit boundaries -> no fit action on the empty frame
    assert empty_events.transform(
        zorder_code(
            ["user_id", "value"], bits=2,
            boundaries={"user_id": [1.0, 2.0, 3.0],
                        "value": [1.0, 2.0, 3.0]},
        )
    ).count() == 0


def test_pq_train_raises_clearly_on_empty(spark, empty_docs):
    """Model fits on an empty corpus must fail with a clear error, not a
    numpy stack trace from the middle of the trainer."""
    from pywrangler_spark.operators.similarity import train_pq_codebooks

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="empty"):
        train_pq_codebooks(empty_emb, "embedding", m=4)


def test_round3b_operators_empty(spark, empty_docs, empty_events):
    from pywrangler_spark.operators.clean import (
        frequency_encode,
        impute,
        winsorize,
    )
    from pywrangler_spark.operators.clean import scale as _scale
    from pywrangler_spark.operators.dedup import (
        dedup_incremental,
        duplicate_groups,
    )
    from pywrangler_spark.operators.docvec import hashed_doc_vectors
    from pywrangler_spark.operators.mix import apply_token_budget_mix

    assert empty_events.transform(
        winsorize("value", group_by="event_type")
    ).count() == 0
    assert empty_events.transform(
        impute("value", "median", group_by="event_type")
    ).count() == 0
    assert empty_events.transform(
        _scale("value", "zscore", group_by="event_type")
    ).count() == 0
    assert empty_docs.transform(frequency_encode("source")).count() == 0
    assert empty_docs.transform(hashed_doc_vectors()).count() == 0
    assert empty_docs.transform(
        apply_token_budget_mix({"s1": 100}, "doc_id", "text", "source")
    ).count() == 0
    seen = empty_docs.transform(duplicate_groups("doc_id", "text"))
    assert empty_docs.transform(
        dedup_incremental(seen, "doc_id", "text")
    ).count() == 0


def test_round4_operators_empty(spark, empty_docs):
    from pywrangler_spark.operators.redact import redact_pii
    from pywrangler_spark.operators.spandedup import (
        excise_duplicate_spans,
    )

    assert empty_docs.transform(
        redact_pii(count_column="n_red")
    ).count() == 0
    assert empty_docs.transform(
        excise_duplicate_spans(n=3, min_docs=2, preserve_whitespace=True)
    ).count() == 0


def test_bloom_incremental_empty_sides(spark, empty_docs):
    """Empty batch -> empty output; empty store -> pure within-batch
    dedup (the bloom of an empty store rejects everything)."""
    from pywrangler_spark.operators.dedup import (
        dedup_incremental_bloom,
        duplicate_groups,
    )
    from pywrangler_spark.sources import read_parquet

    docs = read_parquet(
        spark, "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    seen = docs.limit(50).transform(duplicate_groups("doc_id", "text"))
    empty_seen = seen.filter(F.lit(False))

    assert empty_docs.transform(
        dedup_incremental_bloom(seen, "doc_id", "text")
    ).count() == 0
    n_docs = docs.count()
    out = docs.transform(
        dedup_incremental_bloom(empty_seen, "doc_id", "text")
    )
    assert out.count() == n_docs  # all texts distinct in the fixture
