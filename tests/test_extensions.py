"""Tests for the scale extensions: dedup, similarity search, text
analysis, multimodal plumbing.

The approximate paths (MinHash-LSH, hyperplane-LSH ANN) are validated
against their exact counterparts on real testdata — recall is the
contract, since no SQL oracle can pin them.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pywrangler_spark.operators.dedup import (
    MinHashLSHPairs,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_table,
)
from pywrangler_spark.operators.multimodal import (
    attach_blob,
    extract_blob_features,
)
from pywrangler_spark.operators.similarity import (
    topk_cosine_ivf,
    cosine_neardup_pairs,
    topk_cosine,
    topk_cosine_lsh,
)
from pywrangler_spark.functions.text import lang_id, token_count
from pywrangler_spark.sources import read_parquet

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_parquet(spark, f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return read_parquet(spark, f"{SF}/embeddings.parquet").cache()


class TestDedup:
    def test_exact_dedup_idempotent(self, spark, docs):
        deduped = docs.transform(dedup_exact("doc_id", "text"))
        again = deduped.transform(dedup_exact("doc_id", "text"))
        assert deduped.count() == again.count()
        assert deduped.columns == docs.columns

    def test_exact_dedup_removes_planted_dupes(self, spark, docs):
        planted = docs.union(
            docs.limit(5).withColumn("doc_id", F.col("doc_id") + 10_000)
        )
        deduped = planted.transform(dedup_exact("doc_id", "text"))
        assert deduped.count() == docs.count()
        # representative is the minimum id → original rows survive
        assert deduped.filter(F.col("doc_id") >= 10_000).count() == 0

    def test_minhash_finds_exact_jaccard_pairs(self, spark, docs):
        """LSH candidates must cover the high-similarity exact pairs
        (recall at jaccard ≥ 0.8 should be ~1 with 4 bands × 4 rows)."""
        exact = {
            (r.id_a, r.id_b)
            for r in docs.transform(
                ngram_jaccard_pairs("doc_id", "text", threshold=0.8)
            ).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            for r in docs.transform(
                minhash_lsh_pairs(
                    "doc_id", "text", min_signature_similarity=0.5
                )
            ).collect()
        }
        if exact:
            recall = len(exact & lsh) / len(exact)
            assert recall >= 0.9, f"LSH recall {recall} over {len(exact)} pairs"

    def test_minhash_similarity_tracks_jaccard(self, spark, docs):
        """Near-identical docs (jaccard ~1) must have sig_similarity ~1."""
        planted = docs.union(
            docs.filter(F.col("doc_id") < 3)
            .withColumn("doc_id", F.col("doc_id") + 10_000)
        )
        pairs = planted.transform(
            minhash_lsh_pairs("doc_id", "text", min_signature_similarity=0.5)
        ).filter(F.col("id_b") == F.col("id_a") + 10_000)
        rows = {r.id_a: r.sig_similarity for r in pairs.collect()}
        for doc_id in range(3):
            assert rows.get(doc_id) == 1.0

    def test_minhash_cache_release(self, spark, docs, persistent_rdds):
        """The signature cache must not outlive the query: release()
        unpersists every DataFrame the transform persisted (blocking),
        and the result stays correct (recomputes from source) after."""
        docs.count()  # the module fixture's own cache is not the op's
        before = persistent_rdds()
        op = MinHashLSHPairs("doc_id", "text")
        result = docs.transform(op)
        n = result.count()  # materialize → signature cache populated
        cached = persistent_rdds() - before
        assert cached, "transform should have persisted the signatures"
        op.release()
        assert not cached & persistent_rdds(), (
            "release() must drop the persisted storage"
        )
        assert result.count() == n

    def test_simhash_near_pairs_finds_planted_neardup(
        self, spark, docs, persistent_rdds
    ):
        """A one-word edit flips only a few sketch bits; the pigeonhole
        multi-index must surface the pair (it is complete for
        hamming <= max_hamming — proven exhaustively by the
        dedup_simhash_near brute-force oracle)."""
        from pywrangler_spark.operators.dedup import simhash_near_pairs

        edited = docs.filter(F.col("doc_id") < 2).select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zyxqj")).alias("text"),
        )
        planted = docs.select("doc_id", "text").union(edited)
        docs.count()  # the module fixture's own cache is not the op's
        before = persistent_rdds()
        op = simhash_near_pairs("doc_id", "text", max_hamming=20)
        result = planted.transform(op)
        pairs = {(r.id_a, r.id_b): r.hamming for r in result.collect()}
        for doc_id in range(2):
            assert (doc_id, doc_id + 10_000) in pairs
        assert persistent_rdds() - before  # the sketch caches
        op.release()
        assert not persistent_rdds() - before

    def test_simhash_near_pairs_validation(self):
        from pywrangler_spark.operators.dedup import simhash_near_pairs

        with pytest.raises(ValueError, match="max_hamming"):
            simhash_near_pairs("doc_id", "text", max_hamming=0)

    def test_minhash_band_join_shuffles_ids_only(self, spark, docs):
        """The LSH candidate exchanges (hash-partitioned by band/bh, and the
        pair dedup by id_a/id_b) must NOT carry the minhash signatures —
        at 100 TB the candidate shuffle dominates, and 16 longs per row
        would multiply it ~9×. Signatures join back after the dedup."""
        from pywrangler_spark.plans.inspect import explain_string

        plan = explain_string(
            docs.transform(minhash_lsh_pairs("doc_id", "text"))
        )
        # formatted-plan detail blocks: "(n) Exchange\nInput [k]: [...]\n
        # Arguments: hashpartitioning(...)". The band join may plan as a
        # broadcast (small side) or a shuffled equi-join depending on
        # stats — in EITHER case the candidate-stream exchanges must carry
        # only (id, band, bh), never a signature array.
        blocks = plan.split("\n\n")
        # candidate stream = anything keyed/carrying the band hash, plus
        # the pair-dedup shuffle. (The later scoring join legitimately
        # broadcasts the id→signature table; it is keyed by a single id
        # and never touches band/bh.)
        candidate_exchanges = [
            b
            for b in blocks
            if ("Exchange" in b.split("\n", 1)[0])
            and ("band" in b or "hashpartitioning(id_a" in b)
        ]
        assert candidate_exchanges, plan
        for block in candidate_exchanges:
            assert "sig" not in block, block

    def test_simhash_identical_docs_equal(self, spark, docs):
        planted = docs.filter(F.col("doc_id") < 3).withColumn(
            "doc_id", F.col("doc_id") + 10_000
        )
        sh = docs.union(planted).transform(simhash_table("doc_id", "text"))
        vals = {r.id: r.simhash for r in sh.collect()}
        for doc_id in range(3):
            assert vals[doc_id] == vals[doc_id + 10_000]
        # and the sketch is discriminative: not all equal
        assert len(set(vals.values())) > 1


class TestSimilarity:
    def test_lsh_requires_dim(self):
        """Omitting dim must fail fast at factory time — plan
        construction never runs driver-side actions."""
        with pytest.raises(ValueError, match="dim"):
            topk_cosine_lsh("vec_id", "embedding")

    def test_pq_recall_vs_bruteforce(self, spark, embeddings):
        """ADC over 16x8-bit PQ codes must keep recall@10 well above the
        gate floor on random vectors (PQ's worst case: no cluster
        structure for the codebooks to exploit)."""
        from pywrangler_spark.operators.similarity import topk_cosine_pq

        qf = F.col("vec_id") % 25 == 0
        exact = topk_cosine("vec_id", "embedding", k=10, query_filter=qf)(
            embeddings
        )
        approx = topk_cosine_pq(
            "vec_id", "embedding", k=10, m=16, codebook_k=64,
            query_filter=qf,
        )(embeddings)
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        assert len(e & a) / len(e) >= 0.5

    def test_ivfpq_recall_vs_bruteforce(self, spark):
        """The stacked composition (cell pruning x quantized ranking)
        must clear the gate floor with margin on random vectors."""
        from pywrangler_spark.operators.similarity import (
            topk_cosine_ivfpq,
        )
        from pywrangler_spark.sources import read_parquet

        emb = read_parquet(
            spark, "/root/testdata/sf0.01/embeddings.parquet"
        )
        qf = F.col("vec_id") % 40 == 0
        exact = topk_cosine("vec_id", "embedding", k=10, query_filter=qf)(
            emb
        )
        approx = topk_cosine_ivfpq(
            "vec_id", "embedding", k=10, n_centroids=16, n_probe=4,
            m=16, codebook_k=64, query_filter=qf,
        )(emb)
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        assert len(e & a) / len(e) >= 0.4

    def test_pq_requires_query_filter(self):
        """With no query_filter the default would collect the entire
        corpus to the driver — both PQ variants must refuse at factory
        time (same contract as topk_cosine_lsh's dim requirement)."""
        from pywrangler_spark.operators.similarity import (
            topk_cosine_ivfpq,
            topk_cosine_pq,
        )

        with pytest.raises(ValueError, match="query_filter"):
            topk_cosine_pq("vec_id", "embedding")
        with pytest.raises(ValueError, match="query_filter"):
            topk_cosine_ivfpq("vec_id", "embedding")

    def test_pq_string_ids(self, spark):
        """Non-integer id columns must survive the query-id round-trip
        (qmap/probes derive query_id's type from the input schema)."""
        import random

        from pywrangler_spark.operators.similarity import (
            topk_cosine_ivfpq,
            topk_cosine_pq,
        )

        rng = random.Random(7)
        rows = [
            (f"doc-{i}", [rng.gauss(0, 1) for _ in range(16)])
            for i in range(60)
        ]
        df = spark.createDataFrame(
            rows, "vec_id string, embedding array<double>"
        )
        qf = F.col("vec_id") == "doc-0"
        out = topk_cosine_pq(
            "vec_id", "embedding", k=5, m=4, codebook_k=8,
            query_filter=qf,
        )(df)
        got = out.collect()
        assert len(got) == 5
        assert all(r.query_id == "doc-0" for r in got)
        out2 = topk_cosine_ivfpq(
            "vec_id", "embedding", k=5, n_centroids=4, n_probe=4,
            m=4, codebook_k=8, query_filter=qf,
        )(df)
        got2 = out2.collect()
        assert got2 and all(r.query_id == "doc-0" for r in got2)

    def test_pq_fit_validation(self, spark, embeddings):
        from pywrangler_spark.operators.similarity import (
            train_pq_codebooks,
        )

        with pytest.raises(ValueError, match="divisible"):
            # 64-dim embeddings cannot split into 7 subspaces
            train_pq_codebooks(
                embeddings, "embedding", m=7, max_fit_rows=100
            )
        books = train_pq_codebooks(
            embeddings, "embedding", m=8, codebook_k=4, max_fit_rows=200
        )
        assert books.shape == (8, 4, 8)

    def test_lsh_recall_vs_bruteforce(self, spark, embeddings):
        qf = F.col("vec_id") % 25 == 0
        exact = topk_cosine("vec_id", "embedding", k=10, query_filter=qf)(
            embeddings
        )
        approx = topk_cosine_lsh(
            "vec_id", "embedding", k=10, n_planes=8, query_filter=qf,
            dim=64,
        )(embeddings)
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        # 8 planes + multi-probe on 64-dim random data: recall is moderate
        # by design; the contract is "substantially better than random"
        assert recall >= 0.3, f"LSH recall {recall}"

    def test_lsh_rademacher_recall_vs_bruteforce(self, spark, embeddings):
        # ±1 sign projections (the SQL-reproducible serve family)
        # quantize slightly coarser than Gaussian planes on isotropic
        # RANDOM data (measured 0.295 vs ~0.31 here); on structured
        # docvecs both clear the 0.6 gate by a wide margin (0.846 vs
        # 0.885 at sf0.01) — the floor here is "substantially better
        # than random" on the hardest input
        qf = F.col("vec_id") % 25 == 0
        exact = topk_cosine("vec_id", "embedding", k=10, query_filter=qf)(
            embeddings
        )
        approx = topk_cosine_lsh(
            "vec_id", "embedding", k=10, n_planes=8, query_filter=qf,
            dim=64, plane_kind="rademacher",
        )(embeddings)
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.25, f"rademacher LSH recall {recall}"

    def test_lsh_bad_plane_kind_rejected(self):
        with pytest.raises(ValueError, match="plane_kind"):
            topk_cosine_lsh("id", "v", dim=8, plane_kind="hadamard")

    def test_ivf_recall_vs_bruteforce(self, spark, embeddings):
        qf = F.col("vec_id") % 25 == 0
        exact = topk_cosine("vec_id", "embedding", k=10, query_filter=qf)(
            embeddings
        )
        approx = topk_cosine_ivf(
            "vec_id", "embedding", k=10, n_centroids=16, n_probe=4,
            query_filter=qf,
        )(embeddings)
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        # probing 4/16 cells: candidates are exact-scored, so recall only
        # loses neighbours living outside the probed cells
        assert recall >= 0.5, f"IVF recall {recall}"

    def test_ivf_deterministic(self, spark, embeddings):
        qf = F.col("vec_id") % 50 == 0
        t = lambda: sorted(  # noqa: E731
            (r.query_id, r.rank, r.neighbor_id)
            for r in topk_cosine_ivf(
                "vec_id", "embedding", k=5, n_centroids=8, n_probe=2,
                query_filter=qf,
            )(embeddings).collect()
        )
        assert t() == t()

    def test_topk_rank_contract(self, spark, embeddings):
        out = topk_cosine(
            "vec_id", "embedding", k=5, query_filter=F.col("vec_id") == 0
        )(embeddings)
        rows = sorted(
            (r.rank, r.cosine, r.neighbor_id) for r in out.collect()
        )
        assert [r[0] for r in rows] == [1, 2, 3, 4, 5]
        sims = [r[1] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r[2] != 0 for r in rows)

    def test_exact_batch_plan_matches_all_pairs(self, spark):
        """The exact tier's two plans agree: with ``query_filter`` (numpy
        batch-local top-L, then the JVM re-score) it returns exactly the
        all-pairs plan's rows for the filtered queries — through a zero
        vector and a NULL vector (NULL cosines, as query and as corpus
        row), round-6 ties at rank k (12 copies of one vector against
        k=5) and string ids, over several Arrow batches each larger than
        the batch-local limit. The PQ and IVF-PQ tiers serve the same
        frame, NULL query included."""
        import random

        from pywrangler_spark.operators.similarity import (
            topk_cosine_ivfpq,
            topk_cosine_pq,
        )

        rng = random.Random(11)
        vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(40)]
        rows = [(f"v{i:02d}", v) for i, v in enumerate(vecs)]
        rows += [(f"d{i:02d}", list(vecs[0])) for i in range(12)]
        rows += [("z00", [0.0] * 8), ("n00", None)]
        df = spark.createDataFrame(
            rows, "vid string, v array<double>"
        ).repartition(2)
        queries = ["v00", "d03", "z00", "n00", "v07", "v19"]
        qf = F.col("vid").isin(*queries)

        def ranked(out):
            return sorted(
                (tuple(r) for r in out.collect()),
                key=lambda r: (r[0], r[3]),
            )

        batched = ranked(topk_cosine("vid", "v", k=5, query_filter=qf)(df))
        all_pairs = ranked(
            topk_cosine("vid", "v", k=5)(df).filter(
                F.col("query_id").isin(*queries)
            )
        )
        assert batched == all_pairs
        assert len(batched) == 5 * len(queries)
        # the ties and the NULL rows are really exercised
        assert [r[2] for r in batched if r[0] == "v00"] == [1.0] * 5
        assert [r[2] for r in batched if r[0] == "z00"] == [None] * 5
        assert [r[2] for r in batched if r[0] == "n00"] == [None] * 5
        assert ("v07", "n00") not in {(r[0], r[1]) for r in batched}
        only_null = ranked(
            topk_cosine("vid", "v", k=5, query_filter=F.col("vid") == "n00")(
                df
            )
        )
        assert only_null == [r for r in all_pairs if r[0] == "n00"]
        pq = topk_cosine_pq(
            "vid", "v", k=5, m=2, codebook_k=4, query_filter=qf
        )(df).collect()
        assert {r.query_id for r in pq} == set(queries)
        ivfpq = topk_cosine_ivfpq(
            "vid", "v", k=5, n_centroids=2, n_probe=2, m=2, codebook_k=4,
            query_filter=qf,
        )(df).collect()
        assert {r.query_id for r in ivfpq} == set(queries)

    def test_neardup_pairs_symmetric_bound(self, spark, embeddings):
        pairs = cosine_neardup_pairs("vec_id", "embedding", threshold=0.3)(
            embeddings
        ).collect()
        for r in pairs:
            assert r.id_a < r.id_b
            assert r.cosine >= 0.3


class TestShortDocuments:
    """Regression: Spark's sequence(0, n<0) DESCENDS instead of being
    empty — sub-k-word documents must not crash the shingle operators."""

    def test_short_and_empty_texts_flow_through(self, spark):
        weird = spark.createDataFrame(
            [(1, "a b"), (2, ""), (3, "x"), (4, "a b c d"), (5, None)],
            "doc_id long, text string",
        )
        assert (
            ngram_jaccard_pairs("doc_id", "text")(weird).count() == 0
        )
        assert (
            minhash_lsh_pairs("doc_id", "text")(weird).count() == 0
        )
        from pywrangler_spark.functions.text import word_shingles

        sizes = {
            r.doc_id: r.n
            for r in weird.select(
                "doc_id", F.size(word_shingles(F.col("text"))).alias("n")
            ).collect()
        }
        assert sizes == {1: 0, 2: 0, 3: 0, 4: 2, 5: 0}  # null text → []


class TestText:
    def test_word_shingles_binding_matches_staged_form(self, spark):
        # word_shingles binds the token array as a lambda variable (r12:
        # the inlined tokenization re-ran per shingle slot); values must
        # equal the explicitly staged tokenize->shingle pipeline on
        # normal, short (<k words), empty, and null text
        from pywrangler_spark.functions.text import (
            shingles_from_words,
            word_shingles,
            words,
        )

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "too short"),
                (3, ""),
                (4, None),
                (5, "a b c a b c a b c"),
            ],
            "doc_id long, text string",
        )
        bound = {
            r.doc_id: r.s
            for r in df.select(
                "doc_id", word_shingles(F.col("text"), 3).alias("s")
            ).collect()
        }
        staged = {
            r.doc_id: r.s
            for r in df.select("doc_id", words(F.col("text")).alias("_w"))
            .select(
                "doc_id",
                shingles_from_words(F.col("_w"), 3).alias("s"),
            )
            .collect()
        }
        assert bound == staged
        assert bound[2] == [] and bound[3] == []

    def test_token_count_matches_python(self, spark):
        df = spark.createDataFrame(
            [("hello  world ",), ("",), ("one",)], "t string"
        )
        got = [
            r[0]
            for r in df.select(token_count(F.col("t"))).collect()
        ]
        assert got == [2, 0, 1]

    def test_lang_id_deterministic(self, spark):
        df = spark.createDataFrame(
            [
                ("the cat and the dog is here",),
                ("der hund und die katze ist da",),
                ("xyzzy qwerty",),
            ],
            "t string",
        )
        got = [r[0] for r in df.select(lang_id(F.col("t"))).collect()]
        assert got == ["en", "de", "und"]


class TestMultimodal:
    def test_blob_roundtrip(self, spark, docs):
        b = docs.transform(attach_blob("text"))
        row = b.select("text", "blob", "blob_meta").first()
        assert bytes(row.blob).decode("utf-8") == row.text
        assert row.blob_meta.n_bytes == len(row.text.encode("utf-8"))

    def test_feature_extraction_deterministic(self, spark, docs):
        feats = (
            docs.transform(attach_blob("text"))
            .transform(extract_blob_features("doc_id", "blob"))
        )
        assert feats.count() == docs.count()
        row = feats.filter(F.col("doc_id") == 0).first()
        text = docs.filter(F.col("doc_id") == 0).first().text
        raw = text.encode("utf-8")
        assert row.n_bytes == len(raw)
        assert row.byte_min == min(raw)
        assert row.byte_max == max(raw)
        assert row.head_checksum == sum(raw[:64])
        assert abs(row.byte_mean - sum(raw) / len(raw)) < 1e-9

    def test_real_decoder_is_stubbed(self, spark, docs):
        feats = docs.transform(attach_blob("text")).transform(
            extract_blob_features("doc_id", "blob", decoder="real")
        )
        with pytest.raises(Exception, match="NotImplementedError|media"):
            feats.collect()

    def test_repartition_invariance(self, spark, docs):
        feats = lambda d: (
            d.transform(attach_blob("text"))
            .transform(extract_blob_features("doc_id", "blob"))
        )
        a = sorted(map(tuple, feats(docs).collect()))
        b = sorted(map(tuple, feats(docs.repartition(7)).collect()))
        assert a == b


class TestSourcesFormats:
    def test_csv_json_round_trip(self, spark, tmp_path, docs):
        from pywrangler_spark.sources import read_csv, read_json, write_table

        subset = docs.select("doc_id", "lang", "n_chars").limit(50)
        base = str(tmp_path)
        write_table(subset, f"{base}/docs_csv", format="csv")
        write_table(subset, f"{base}/docs_json", format="json")
        schema = "doc_id bigint, lang string, n_chars bigint"
        from_csv = read_csv(spark, f"{base}/docs_csv", schema=schema)
        from_json = read_json(spark, f"{base}/docs_json", schema=schema)
        expected = sorted(map(tuple, subset.collect()))
        assert sorted(map(tuple, from_csv.collect())) == expected
        assert sorted(map(tuple, from_json.collect())) == expected

    def test_orc_round_trip(self, spark, tmp_path, docs):
        from pywrangler_spark.sources import read_orc, write_table

        subset = docs.select("doc_id", "lang", "n_chars").limit(50)
        path = f"{tmp_path}/docs_orc"
        write_table(subset, path, format="orc")
        back = read_orc(spark, path)
        assert back.schema == subset.schema
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, subset.collect())
        )

    def test_partitioned_write_prunes(self, spark, tmp_path, docs):
        from pywrangler_spark.sources import write_table
        from pywrangler_spark.plans import explain_string

        base = f"{tmp_path}/by_lang"
        write_table(
            docs.select("doc_id", "lang"), base, partition_by=["lang"]
        )
        scan = spark.read.parquet(base).filter(F.col("lang") == "en")
        assert scan.count() > 0
        plan = explain_string(scan)
        # partition pruning: only the lang=en directory is read
        assert "PartitionFilters" in plan and "lang" in plan


class TestApproxDistinct:
    def test_hll_within_error_bound(self, spark):
        from pywrangler_spark.queries import QUERIES

        rows = QUERIES["approx_distinct_parts"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows
        # the query emits the band check itself (oracle-matched boolean);
        # the sketch being inside ±5% of exact IS the within_band column
        for r in rows:
            assert r.within_band, f"{r.l_returnflag}: HLL outside ±5% band"
            assert r.exact_parts > 0


class TestInt8Quantization:
    def test_quantize_roundtrip_error_bound(self, spark):
        import numpy as np

        from pywrangler_spark.functions.vectors import (
            int8_quantize,
            int8_scale,
            to_double_array,
        )

        rng = np.random.default_rng(3)
        vecs = [(i, rng.normal(size=32).tolist()) for i in range(50)]
        vecs.append((50, [0.0] * 32))  # zero vector edge case
        df = spark.createDataFrame(vecs, ["id", "v"])
        v = to_double_array(F.col("v"))
        s = int8_scale(v)
        out = df.select(
            "id", "v", s.alias("scale"), int8_quantize(v, s).alias("q")
        ).collect()
        for r in out:
            if r.id == 50:
                assert r.scale is None and all(x == 0 for x in r.q)
                continue
            # dequantized error <= scale/2 per element (symmetric rounding)
            for orig, qv in zip(r.v, r.q):
                assert abs(orig - qv * r.scale) <= r.scale / 2 + 1e-12
                assert -127 <= qv <= 127

    def test_int8_topk_rank_agreement(self, spark, embeddings):
        from pywrangler_spark.operators.similarity import (
            topk_cosine,
            topk_cosine_int8,
        )

        qf = F.col("vec_id") % 97 == 0
        exact = embeddings.transform(
            topk_cosine("vec_id", "embedding", k=10, query_filter=qf)
        )
        quant = embeddings.transform(
            topk_cosine_int8("vec_id", "embedding", k=10, query_filter=qf)
        )
        ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        qu = {(r.query_id, r.neighbor_id) for r in quant.collect()}
        # int8 scores track f64 cosine closely; top-10 overlap >= 80%
        assert len(ex & qu) / len(ex) >= 0.8

    def test_int8_dot_exact(self, spark):
        from pywrangler_spark.functions.vectors import int8_dot

        df = spark.createDataFrame(
            [([127, -127, 5], [127, 127, 2])], ["a", "b"]
        )
        got = df.select(
            int8_dot(F.col("a"), F.col("b")).alias("d")
        ).first().d
        assert got == 127 * 127 - 127 * 127 + 10


class TestClusteredWrite:
    def test_files_are_disjoint_ranges(self, spark, tmp_path):
        import glob
        import os

        from pywrangler_spark.sources import write_clustered_parquet

        df = spark.range(0, 10_000).selectExpr(
            "id AS k", "CAST(id % 7 AS DOUBLE) AS v"
        ).repartition(8)  # scrambled input
        path = str(tmp_path / "clustered")
        write_clustered_parquet(df, path, ["k"], n_files=4)

        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        assert len(files) == 4
        ranges = []
        for f in files:
            mm = spark.read.parquet(f).selectExpr(
                "min(k) AS lo", "max(k) AS hi"
            ).first()
            ranges.append((mm.lo, mm.hi))
        ranges.sort()
        # disjoint, ordered ranges -> min/max footer stats can skip files
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2
        # full key span covered
        assert ranges[0][0] == 0 and ranges[-1][1] == 9999


class TestDocVectors:
    def test_planted_neardup_found_and_vectors_deterministic(
        self, spark, docs
    ):
        from pywrangler_spark.operators.docvec import hashed_doc_vectors
        from pywrangler_spark.operators.similarity import (
            cosine_neardup_pairs,
        )

        edited = docs.filter(F.col("doc_id") < 2).select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzqx")).alias("text"),
        )
        planted = docs.select("doc_id", "text").union(edited)
        vecs = planted.transform(hashed_doc_vectors(dim=64))
        pairs = {
            (r.id_a, r.id_b): r.cosine
            for r in vecs.transform(
                cosine_neardup_pairs("id", "doc_vec", threshold=0.9)
            ).collect()
        }
        for doc_id in range(2):
            assert (doc_id, doc_id + 10_000) in pairs

        again = planted.transform(hashed_doc_vectors(dim=64))
        a = {r["id"]: r["doc_vec"] for r in vecs.collect()}
        b = {r["id"]: r["doc_vec"] for r in again.collect()}
        assert a == b

    def test_validation(self):
        import pytest as _pytest

        from pywrangler_spark.operators.docvec import hashed_doc_vectors

        with _pytest.raises(ValueError, match="dim"):
            hashed_doc_vectors(dim=1)


class TestIncrementalDedup:
    def test_history_and_within_batch(self, spark, docs):
        from pywrangler_spark.operators.dedup import (
            dedup_incremental,
            duplicate_groups,
        )

        seen = docs.filter(F.col("doc_id") < 100).transform(
            duplicate_groups("doc_id", "text")
        )
        # batch = 50 docs already in history (new ids) + 5 genuinely
        # new docs duplicated twice within the batch
        replay = docs.filter(F.col("doc_id") < 50).withColumn(
            "doc_id", F.col("doc_id") + 20_000
        )
        fresh = docs.filter(
            (F.col("doc_id") >= 100) & (F.col("doc_id") < 105)
        )
        fresh2 = fresh.withColumn("doc_id", F.col("doc_id") + 30_000)
        batch = replay.union(fresh).union(fresh2)
        out = batch.transform(
            dedup_incremental(seen, "doc_id", "text")
        )
        ids = sorted(r["doc_id"] for r in out.collect())
        # replays of history dropped; one representative (min id) per
        # within-batch duplicate pair survives
        assert ids == [100, 101, 102, 103, 104]
        assert out.columns == batch.columns

    def test_bloom_variant_matches_exact(self, spark, docs):
        """The bloom-prefiltered path must reproduce the exact
        operator's output bit-for-bit (no false negatives + verified
        positives), at every fpp tried."""
        from pywrangler_spark.operators.dedup import (
            dedup_incremental,
            dedup_incremental_bloom,
            duplicate_groups,
        )

        seen = docs.filter(F.col("doc_id") % 3 == 0).transform(
            duplicate_groups("doc_id", "text")
        )
        batch = docs.filter(F.col("doc_id") % 3 != 0)
        exact = sorted(
            r["doc_id"]
            for r in batch.transform(
                dedup_incremental(seen, "doc_id", "text")
            ).collect()
        )
        for fpp in (0.5, 0.01):
            got = sorted(
                r["doc_id"]
                for r in batch.transform(
                    dedup_incremental_bloom(
                        seen, "doc_id", "text", fpp=fpp
                    )
                ).collect()
            )
            assert got == exact, fpp

    def test_bloom_membership_properties(self, spark, docs):
        """Every stored fingerprint probes positive (no false
        negatives); the false-positive rate on novel keys stays near
        the configured fpp."""
        import numpy as np

        from pywrangler_spark.operators.dedup import (
            build_fingerprint_bloom,
            duplicate_groups,
        )

        seen = docs.transform(duplicate_groups("doc_id", "text"))
        bitmap, k, m = build_fingerprint_bloom(seen, fpp=0.01)
        fps = [r["fingerprint"] for r in seen.collect()]
        novel = [f"novel-{i}" for i in range(2000)]
        probe = spark.createDataFrame(
            [(f, True) for f in fps] + [(f, False) for f in novel],
            "fingerprint string, stored boolean",
        )
        pos = [
            F.pmod(
                F.xxhash64(F.col("fingerprint"), F.lit(42 + i)),
                F.lit(m),
            ).alias(f"_p{i}")
            for i in range(k)
        ]
        rows = probe.select("stored", *pos).collect()
        fp_hits = 0
        for r in rows:
            hit = all(
                bitmap[r[f"_p{i}"] >> 3] >> (r[f"_p{i}"] & 7) & 1
                for i in range(k)
            )
            if r["stored"]:
                assert hit  # bloom must never miss a stored key
            elif hit:
                fp_hits += 1
        assert fp_hits / len(novel) < 0.05  # near the 1% target

    def test_bloom_validation(self, spark, docs):
        from pywrangler_spark.operators.dedup import (
            build_fingerprint_bloom,
        )

        import pytest as _pytest

        with _pytest.raises(ValueError, match="fpp"):
            build_fingerprint_bloom(docs, fpp=1.5)


class TestRerankRefine:
    def test_pq_rerank_improves_recall(self, spark, embeddings):
        """The refine stage must strictly help: rerank=4 re-scores the
        top-40 ADC candidates exactly, so its top-10 is at least as
        close to the exact tier as the unrefined ranking."""
        from pywrangler_spark.operators.similarity import topk_cosine_pq

        qf = F.col("vec_id") % 25 == 0
        exact = topk_cosine("vec_id", "embedding", k=10, query_filter=qf)(
            embeddings
        )
        base = topk_cosine_pq(
            "vec_id", "embedding", k=10, m=16, codebook_k=64,
            query_filter=qf,
        )(embeddings)
        refined = topk_cosine_pq(
            "vec_id", "embedding", k=10, m=16, codebook_k=64,
            query_filter=qf, rerank=4,
        )(embeddings)
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        b = {(r.query_id, r.neighbor_id) for r in base.collect()}
        r = {(r.query_id, r.neighbor_id) for r in refined.collect()}
        assert len(e & r) >= len(e & b)
        assert len(e & r) / len(e) >= 0.6

    def test_rerank_contract(self, spark, embeddings):
        """Refined output keeps the (query_id, neighbor_id, cosine_pq,
        rank) schema, k rows per query, ranks 1..k, scores equal to the
        exact tier's cosine for shared pairs."""
        from pywrangler_spark.operators.similarity import (
            topk_cosine_ivfpq,
        )

        qf = F.col("vec_id") % 40 == 0
        out = topk_cosine_ivfpq(
            "vec_id", "embedding", k=5, n_centroids=8, n_probe=3,
            m=16, codebook_k=64, query_filter=qf, rerank=3,
        )(embeddings)
        rows = out.collect()
        assert set(out.columns) == {
            "query_id", "neighbor_id", "cosine_pq", "rank"
        }
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r.rank)
        for q, ranks in per_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
            assert len(ranks) <= 5
        exact = topk_cosine(
            "vec_id", "embedding", k=50, query_filter=qf
        )(embeddings)
        truth = {
            (r.query_id, r.neighbor_id): r.cosine for r in exact.collect()
        }
        for r in rows:
            key = (r.query_id, r.neighbor_id)
            if key in truth:  # rerank scores ARE exact cosines
                assert abs(r.cosine_pq - truth[key]) < 1e-9, key

    def test_suggest_ann_params_schedule(self):
        from pywrangler_spark.operators.similarity import (
            suggest_ann_params,
        )

        small = suggest_ann_params(2000)
        assert small == {
            "n_centroids": 45, "n_probe": 11, "n_tables": 4, "rerank": 1
        }
        ten_x = suggest_ann_params(20000)
        assert ten_x["n_centroids"] == 141 and ten_x["rerank"] == 2
        assert ten_x["n_tables"] == 5
        # monotone in corpus size, capped rerank
        big = suggest_ann_params(2_000_000_000)
        assert big["rerank"] == 16
        assert big["n_centroids"] >= ten_x["n_centroids"]


class TestServeOracleGuard:
    """The serve oracle derives ``n_tables`` from the corpus count IN
    SQL but embeds hyperplanes only for ``max_tables`` tables; past the
    embedded count the old filter silently computed the expected output
    from fewer tables than Spark uses — a confusing hash mismatch. The
    guard turns that into a loud error."""

    def test_errors_when_derived_tables_exceed_embedded(self):
        import duckdb

        from pywrangler_spark.queries.text import _docvec_serve_oracle

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.001/documents.parquet')"
        )
        # 500 docs derive n_tables=4; embedding only 3 must error
        with pytest.raises(duckdb.Error, match="max_tables"):
            con.execute(_docvec_serve_oracle(max_tables=3)).fetchall()
        # the default embeds enough tables for corpora past sf100
        rows = con.execute(_docvec_serve_oracle()).fetchall()
        assert rows
