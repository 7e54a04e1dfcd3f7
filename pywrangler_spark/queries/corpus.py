"""Corpus-pipeline queries: decontamination, shard shuffle, heavy
hitters — each with a DuckDB oracle that mirrors the operator's
documented cross-engine (md5-hash) semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pywrangler_spark.queries import register
from pywrangler_spark.queries._shared import (
    NORM_SQL,
    TOKENS_SQL,
    bucket_sql,
    md5_bits_sql,
    seeded_hash_sql,
)
from pywrangler_spark.sources import sf_table
from pywrangler_spark.util import BoundedFitCache


def _bucket_col(seed: str) -> Column:
    from pywrangler_spark.operators.sampling import _bucket

    return _bucket("doc_id", seed)


# ---- benchmark decontamination --------------------------------------------
# Eval set = 5% of documents by hash bucket (stands in for a benchmark
# table); every corpus doc is annotated with its distinct 5-gram overlap
# against that set. Plan: broadcast eval-gram build side, scan-side
# corpus explode, matched-grams-only aggregation (see
# operators/decontaminate.py for the 100 TB rationale).

_GRAM5_SQL = md5_bits_sql(
    "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]"
)

_DECONTAM_ORACLE = f"""
WITH norm AS (
    SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents
), grams AS (
    SELECT DISTINCT doc_id, {_GRAM5_SQL} AS gh
    FROM norm, UNNEST(range(1, len(w) - 3)) AS t(i)
    WHERE len(w) >= 5
), eval_grams AS (
    SELECT DISTINCT gh FROM grams
    WHERE {bucket_sql("evalset")} < 500
), overlap AS (
    SELECT g.doc_id, COUNT(DISTINCT g.gh) AS n_overlap
    FROM grams g JOIN eval_grams e USING (gh)
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(o.n_overlap, 0) >= 1 AS contaminated,
       {bucket_sql("evalset").replace("doc_id", "d.doc_id")} < 500 AS is_eval
FROM documents d LEFT JOIN overlap o USING (doc_id)
"""


@register("decontaminate_docs", oracle=_DECONTAM_ORACLE)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.decontaminate import contamination_overlap

    docs = sf_table(spark, sf_dir, "documents")
    is_eval = _bucket_col("evalset") < 500
    eval_df = docs.filter(is_eval)
    return (
        docs.transform(contamination_overlap(eval_df, n=5))
        .select("doc_id", "n_overlap", "contaminated", is_eval.alias("is_eval"))
    )


# ---- deterministic shard shuffle ------------------------------------------
# 8 shards here; at 100 TB the shard count scales with volume so the one
# per-shard window exchange stays bounded (operators/shard.py).

_SHARD_ORACLE = f"""
SELECT doc_id,
       {seeded_hash_sql("shards")} % 8 AS shard,
       CAST(row_number() OVER (
           PARTITION BY {seeded_hash_sql("shards")} % 8
           ORDER BY {seeded_hash_sql("shards")}, doc_id
       ) - 1 AS BIGINT) AS pos
FROM documents
"""


@register("shard_docs", oracle=_SHARD_ORACLE)
def shard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.shard import shuffle_to_shards

    return (
        sf_table(spark, sf_dir, "documents")
        .transform(shuffle_to_shards("doc_id", 8, seed="shards"))
        .select(
            "doc_id",
            F.col("shard").cast("long").alias("shard"),
            F.col("pos").cast("long").alias("pos"),
        )
    )


# ---- heavy hitters: sample-candidates + exact-verify ----------------------
# The oracle is the EXACT global top-10 — the query hash-matches only if
# the sampled candidate tier recovered every true heavy hitter, making
# the approximation's membership risk a hard driver signal.

_HH_ORACLE = f"""
SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact
FROM (
    SELECT unnest(string_split({NORM_SQL}, ' ')) AS term FROM documents
)
WHERE term <> ''
GROUP BY term
ORDER BY n_exact DESC, term ASC
LIMIT 10
"""


@register("heavy_hitter_terms", oracle=_HH_ORACLE)
def heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.heavyhitters import top_terms_sampled

    return sf_table(spark, sf_dir, "documents").transform(
        top_terms_sampled(
            "text", "doc_id", k=10, sample_fraction=0.2, seed="hh"
        )
    )


# ---- end-to-end corpus cleaning pipeline ----------------------------------
# The flagship composition: quality gate -> eval-set exclusion -> exact
# dedup -> decontamination -> deterministic split -> shard shuffle, all
# as chained ``.transform`` stages of the operators above. Every stage
# is a narrow filter/projection or a single bounded exchange, so the
# composed plan stays linear in corpus size; the final per-(split,
# shard) aggregate (24 rows) also pins the within-shard permutation via
# ``min_by(doc_id, pos)``.

_PIPELINE_ORACLE = f"""
WITH feat AS (
    SELECT doc_id, text,
           CAST({TOKENS_SQL} AS BIGINT) AS n_tokens,
           md5({NORM_SQL}) AS fp,
           {bucket_sql("evalset")} < 500 AS is_eval
    FROM documents
), grams AS (
    SELECT DISTINCT doc_id, {_GRAM5_SQL} AS gh
    FROM (SELECT doc_id, string_split({NORM_SQL}, ' ') AS w
          FROM documents),
         UNNEST(range(1, len(w) - 3)) AS t(i)
    WHERE len(w) >= 5
), eval_grams AS (
    SELECT DISTINCT gh FROM grams JOIN feat USING (doc_id) WHERE is_eval
), dedup AS (
    SELECT * FROM feat
    WHERE NOT is_eval AND n_tokens >= 25
    QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
), clean AS (
    SELECT d.* FROM dedup d
    WHERE NOT EXISTS (
        SELECT 1 FROM grams g JOIN eval_grams e USING (gh)
        WHERE g.doc_id = d.doc_id
    )
), assigned AS (
    SELECT doc_id, n_tokens,
           CASE WHEN {bucket_sql("42")} < 8000 THEN 'train'
                WHEN {bucket_sql("42")} < 9000 THEN 'val'
                ELSE 'test' END AS split,
           {seeded_hash_sql("shards")} AS h
    FROM clean
), pos AS (
    SELECT *, h % 8 AS shard,
           row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1
               AS pos
    FROM assigned
)
SELECT split, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       arg_min(doc_id, pos) AS first_doc_id
FROM pos
GROUP BY 1, 2
"""


@register("corpus_clean_pipeline", oracle=_PIPELINE_ORACLE)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.functions.text import token_count
    from pywrangler_spark.operators.decontaminate import contamination_overlap
    from pywrangler_spark.operators.dedup import dedup_exact
    from pywrangler_spark.operators.sampling import hash_split
    from pywrangler_spark.operators.shard import shuffle_to_shards

    docs = sf_table(spark, sf_dir, "documents")
    is_eval = _bucket_col("evalset") < 500
    eval_df = docs.filter(is_eval)
    cleaned = (
        docs.filter(~is_eval)
        .filter(token_count(F.col("text")) >= 25)
        .transform(dedup_exact("doc_id", "text"))
        .transform(contamination_overlap(eval_df, n=5))
        .filter(~F.col("contaminated"))
        .transform(
            hash_split(
                "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
            )
        )
        .transform(shuffle_to_shards("doc_id", 8, seed="shards"))
    )
    return cleaned.groupBy("split", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
        F.min_by("doc_id", "pos").alias("first_doc_id"),
    )


# ---- unigram LM quality scoring -------------------------------------------
# Fit-once (capped vocabulary, broadcast) / score-many; the vocabulary
# cap of 20 deliberately pushes part of the corpus into the OOV floor
# so both scoring paths are oracle-checked. ROUND(6) absorbs the
# engines' last-ulp ln() differences.

_LM_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS term
    FROM documents
), toks2 AS (
    SELECT * FROM toks WHERE term <> ''
), counts AS (
    SELECT term, COUNT(*) AS n FROM toks2 GROUP BY 1
), tot AS (
    SELECT SUM(n) AS total FROM counts
), model AS (
    SELECT term, n * 1.0 / total AS p FROM counts, tot
    ORDER BY n DESC, term ASC LIMIT 20
), scored AS (
    SELECT t.doc_id, -ln(COALESCE(m.p, 1e-9)) AS nll
    FROM toks2 t LEFT JOIN model m USING (term)
), per_doc AS (
    SELECT doc_id, AVG(nll) AS s FROM scored GROUP BY 1
)
SELECT d.doc_id, ROUND(p.s, 6) AS lm_score
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# ``covered(doc_id, tok)``: every token position inside a 5-gram that
# occurs in two or more documents (operators/spandedup.py)
_SPAN_COVERED_SQL = f"""
WITH norm AS (
    SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents
), grams AS (
    SELECT doc_id, i - 1 AS pos, {_GRAM5_SQL} AS gh
    FROM norm, UNNEST(range(1, len(w) - 3)) AS t(i)
    WHERE len(w) >= 5
), dup AS (
    SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
), covered AS (
    SELECT DISTINCT g.doc_id, g.pos + o AS tok
    FROM grams g JOIN dup USING (gh), UNNEST(range(0, 5)) AS u(o)
)"""

_SPAN_ORACLE = _SPAN_COVERED_SQL + f""", masked AS (
    SELECT doc_id, COUNT(*) AS n_masked FROM covered GROUP BY 1
), toks AS (
    SELECT doc_id, {TOKENS_SQL} AS n_tok FROM documents
)
SELECT d.doc_id,
       CAST(COALESCE(m.n_masked, 0) AS BIGINT) AS n_masked,
       ROUND(CASE WHEN t.n_tok > 0
                  THEN COALESCE(m.n_masked, 0) * 1.0 / t.n_tok
                  ELSE 0.0 END, 6) AS dup_ratio
FROM documents d
LEFT JOIN masked m USING (doc_id)
JOIN toks t USING (doc_id)
"""


@register("dedup_span_mask", oracle=_SPAN_ORACLE)
def dedup_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stats-only form: the output never reads the text past the token
    # count, so the final doc-keyed join moves two narrow tables
    # instead of re-shuffling corpus text once the stats side outgrows
    # the broadcast threshold (operators/spandedup.py docstring; the
    # column-appending mask_duplicate_spans stays the operator for
    # pipelines that carry the stats alongside the documents)
    from pywrangler_spark.operators.spandedup import duplicate_span_stats
    from pywrangler_spark.util import keep_alive

    stats = sf_table(spark, sf_dir, "documents").transform(
        duplicate_span_stats("doc_id", "text", n=5, min_docs=2)
    )
    # keep_alive: the dup-set cache is tied to ``stats``; without it the
    # derived select drops the cache pre-execution and the dup set's
    # distinct-gram scan runs twice (r12 find, see util.keep_alive)
    return keep_alive(
        stats.select(
            "doc_id",
            "n_masked",
            F.round("dup_ratio", 6).alias("dup_ratio"),
        ),
        stats,
    )


# ---- duplicate-span excision ----------------------------------------------
# Same covered-position pipeline as the mask, then a positional filter
# rebuilds the normalized text without the duplicated-span tokens.
_SPAN_EXCISE_ORACLE = _SPAN_COVERED_SQL + """, mt AS (
    SELECT doc_id, list(tok) AS toks FROM covered GROUP BY 1
)
SELECT n.doc_id,
       CASE WHEN n.w IS NULL THEN NULL
            -- array_to_string([]) is NULL in DuckDB but concat_ws of an
            -- empty array is '' in Spark: coalesce the fully-masked case
            ELSE COALESCE(
                array_to_string(
                    list_filter(
                        n.w,
                        (x, i) -> NOT list_contains(
                            COALESCE(m.toks, CAST([] AS BIGINT[])), i - 1
                        )
                    ),
                    ' '
                ),
                ''
            )
       END AS masked_text
FROM norm n LEFT JOIN mt m USING (doc_id)
"""


@register("dedup_span_excise", oracle=_SPAN_EXCISE_ORACLE)
def dedup_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.spandedup import excise_duplicate_spans
    from pywrangler_spark.util import keep_alive

    excised = sf_table(spark, sf_dir, "documents").transform(
        excise_duplicate_spans("doc_id", "text", n=5, min_docs=2)
    )
    # keep_alive: same dup-set-cache transfer as dedup_span_mask
    return keep_alive(excised.select("doc_id", "masked_text"), excised)


@register("lm_score_docs", oracle=_LM_ORACLE)
def lm_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.lmscore import (
        fit_unigram_model,
        unigram_logprob_score,
    )

    docs = sf_table(spark, sf_dir, "documents")
    model = docs.transform(fit_unigram_model("text", vocab_size=20))
    return (
        docs.transform(unigram_logprob_score(model, oov_p=1e-9))
        .select("doc_id", F.round("lm_score", 6).alias("lm_score"))
    )


# ---- supervised quality classifier (fastText-style distillation) ----------
# No SQL engine can replay an L-BFGS fit, so the model is gated like the
# ANN tiers: holdout accuracy against the (deterministic) LM-derived
# labels must clear a floor far below the validated operating point
# (0.96 measured at sf0.01), and the oracle checks the deterministic
# (n_eval, acc_ok) row.
_CLASSIFIER_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_eval, TRUE AS acc_ok
FROM documents WHERE doc_id % 2 = 1
"""

# fit capacity per (process, corpus) — one count() per corpus, cached
# like the ANN gates' _ANN_PARAMS (queries/similarity.py)
_FIT_PARAMS: dict = BoundedFitCache()

# fit-once serve-many, the _IVF_CENTROIDS/_PQ_CODEBOOKS convention
# (queries/similarity.py): the fitted LogisticRegressionModel is a model
# artifact — its L-BFGS fit (10 treeAggregate passes over the capped
# seed) is a per-(process, corpus) fit phase, not per-call serve work.
# The teacher labels, holdout scoring, and the accuracy aggregate still
# compute from the parquet inputs on every call.
_CLF_MODELS: dict = BoundedFitCache()


@register("classifier_quality_gate", oracle=_CLASSIFIER_ORACLE)
def classifier_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the unigram-LM quality filter into a hashed-bigram
    logistic classifier (the standard trained-quality-filter recipe:
    cheap-label seed -> model that generalizes): median-split LM scores
    label the corpus, even doc_ids train, odd doc_ids evaluate.

    Scale shape (the two round-8 fixes, before/after in SCALE.md):

    - the TEACHER LABEL TABLE ``(doc_id, qlabel)`` is persisted once —
      ~0.1% of corpus bytes. The teacher lineage (vocab aggregate + LM
      scoring + median) previously re-ran per consumer (label
      discovery, fit featurization, holdout scoring), ~12 tokenizing
      corpus scans per gate call — the multi-referenced-lineage trap;
    - the FIT runs on a per-label-stratified 64k-row capped sample
      (``max_fit_rows``), not the full even half: every L-BFGS
      iteration is a treeAggregate over the fit input, so the uncapped
      fit grows linearly with the corpus while the model stops
      changing. Holdout table (SCALE.md, "Round-8: classifier fit cap"):
      64k cap = 0.994/0.996/0.976 at sf0.1/sf1/sf10 vs 0.996 full —
      the residual sf10 gap is token-coverage against this synthetic
      corpus's linearly-growing vocabulary (key-shifted replication);
      natural corpora grow vocabulary ~sqrt(n) (Heaps), favoring the
      cap more strongly at 100 TB.
    """
    from pywrangler_spark.operators.classifier import (
        fit_text_classifier,
        score_text_classifier,
        suggest_fit_params,
    )
    from pywrangler_spark.operators.lmscore import (
        fit_unigram_model,
        unigram_logprob_score,
    )
    from pywrangler_spark.util import CacheScope

    docs = sf_table(spark, sf_dir, "documents")
    # capacity schedule, resolved once per (process, corpus) like the
    # ANN gates' suggest_ann_params: cap and feature width derive from
    # corpus size instead of pinning the 64k/2^16 base point (which
    # decays with vocabulary growth at 10x+ — holdout ladder, SCALE.md)
    fitp = _FIT_PARAMS.get_or_fit(
        sf_dir, lambda: suggest_fit_params(docs.count())
    )
    lm = docs.transform(fit_unigram_model("text", vocab_size=20))
    scored = docs.transform(unigram_logprob_score(lm, oov_p=1e-9))
    # the median cutoff rides the plan as a broadcast one-row aggregate
    # (winsorize's pattern) — no driver action during query build
    med_df = scored.agg(
        F.expr("percentile(lm_score, 0.5D)").alias("_med")
    )
    scope = CacheScope()
    label_tbl = scope.persist(
        scored.crossJoin(F.broadcast(med_df)).select(
            "doc_id",
            F.when(
                F.col("lm_score") <= F.col("_med"), "keep"
            ).otherwise("drop").alias("qlabel"),
        )
    )
    labeled = docs.select("doc_id", "text").join(label_tbl, "doc_id")
    train = labeled.filter(F.col("doc_id") % 2 == 0)
    test = labeled.filter(F.col("doc_id") % 2 == 1)
    # unigram features: the teacher label is a unigram-frequency
    # function, and on a few hundred training docs the bigram feature
    # space dilutes it (0.75 vs 0.96 holdout measured) — capacity
    # matched to the task; bigram features are exercised in tests
    # 10 L-BFGS iterations converge on this task (0.995 holdout at
    # 10/20/50 iters measured at sf0.1); more is pure fit wall-time
    model, labels = _CLF_MODELS.get_or_fit(
        sf_dir,
        lambda: fit_text_classifier(
            train, "qlabel", n_features=fitp["n_features"], bigrams=False,
            max_iter=10, max_fit_rows=fitp["max_fit_rows"],
        ),
    )
    out = test.transform(
        score_text_classifier(
            model, labels, n_features=fitp["n_features"], bigrams=False
        )
    )
    return scope.tie(
        out.agg(
            F.count(F.lit(1)).alias("n_eval"),
            (
                F.avg(
                    (F.col("predicted_label") == F.col("qlabel")).cast(
                        "double"
                    )
                )
                >= 0.8
            ).alias("acc_ok"),
        )
    )


# ---- interpolated bigram LM scoring ----------------------------------------
# Jelinek-Mercer backoff: lam * p(term|prev) + (1-lam) * p_uni(term).
# Caps (vocab 20, bigram table 500) are binding on the synthetic corpus,
# so the capped-table and backoff paths are both oracle-exercised.
_LM2_ORACLE = f"""
WITH norm AS (
    SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents
), toks2 AS (
    SELECT doc_id, unnest(w) AS term FROM norm
), toksf AS (
    SELECT * FROM toks2 WHERE term <> ''
), counts AS (
    SELECT term, COUNT(*) AS n FROM toksf GROUP BY 1
), tot AS (
    SELECT SUM(n) AS total FROM counts
), uni AS (
    SELECT term, n * 1.0 / total AS p FROM counts, tot
    ORDER BY n DESC, term ASC LIMIT 20
), pairs AS (
    SELECT doc_id, w[i] AS prev, w[i + 1] AS term
    FROM norm, UNNEST(range(1, len(w))) AS t(i)
    WHERE w[i] <> '' AND w[i + 1] <> ''
), bic AS (
    SELECT prev, term, COUNT(*) AS n_bi FROM pairs GROUP BY 1, 2
), prevc AS (
    SELECT prev, COUNT(*) AS n_prev FROM pairs GROUP BY 1
), bi AS (
    SELECT b.prev, b.term, b.n_bi, p.n_prev
    FROM bic b JOIN prevc p USING (prev)
    ORDER BY b.n_bi DESC, b.prev ASC, b.term ASC LIMIT 500
), nll AS (
    SELECT p.doc_id,
           -ln(0.7 * COALESCE(b.n_bi * 1.0 / b.n_prev, 0.0)
               + 0.3 * COALESCE(u.p, 1e-9)) AS nll
    FROM pairs p
    LEFT JOIN bi b ON b.prev = p.prev AND b.term = p.term
    LEFT JOIN uni u ON u.term = p.term
), per_doc AS (
    SELECT doc_id, AVG(nll) AS s FROM nll GROUP BY 1
)
SELECT d.doc_id, ROUND(p.s, 6) AS lm2_score
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@register("lm_bigram_score_docs", oracle=_LM2_ORACLE)
def lm_bigram_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.lmscore import (
        bigram_logprob_score,
        fit_bigram_model,
    )

    docs = sf_table(spark, sf_dir, "documents")
    unigrams, bigrams = fit_bigram_model(
        "text", vocab_size=20, bigram_size=500
    )(docs)
    return (
        docs.transform(
            bigram_logprob_score(
                unigrams, bigrams, lam=0.7, oov_p=1e-9
            )
        )
        .select("doc_id", F.round("lm2_score", 6).alias("lm2_score"))
    )


# ---- corpus mix execution --------------------------------------------------
# Fixed integer budgets (2000 tokens per source) keep the oracle free of
# fp-power arithmetic; the temperature-weighted budget derivation is
# pytest-covered.
_MIX_APPLY_ORACLE = f"""
WITH meta AS (
    SELECT doc_id, source,
           CAST({TOKENS_SQL} AS BIGINT) AS n_tok,
           {bucket_sql("mix")} AS h
    FROM documents
), c AS (
    SELECT *, COALESCE(SUM(n_tok) OVER (
        PARTITION BY source ORDER BY h, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
    FROM meta
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept
FROM c WHERE before < 2000 GROUP BY source
"""


@register("mix_docs_to_budget", oracle=_MIX_APPLY_ORACLE)
def mix_docs_to_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.functions.text import token_count
    from pywrangler_spark.operators.mix import apply_token_budget_mix

    docs = sf_table(spark, sf_dir, "documents")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    budgets = {s: 2000 for s in sources}
    kept = docs.transform(
        apply_token_budget_mix(budgets, "doc_id", "text", "source")
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum(token_count(F.col("text"))).cast("long").alias(
            "n_tokens_kept"
        ),
    )
