"""Text-analysis queries over ``documents`` + DuckDB oracles.

The oracle SQL mirrors each column function's documented DuckDB
equivalent (see ``functions.text``), pinning semantics cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywrangler_spark.functions.text import (
    BPE_PATTERN,
    LANG_PROFILES,
    bpe_token_count,
    fingerprint,
    lang_id,
    normalize_text,
    quality_alpha_ratio,
    token_count,
    words,
)
from pywrangler_spark.queries import register
from pywrangler_spark.queries._shared import (
    NORM_SQL,
    TOKENS_SQL,
    bucket_sql,
    cdc_chunks_sql,
    md5_bits_sql,
    query_gate,
    query_gate_sql,
)
from pywrangler_spark.sources import sf_table
from pywrangler_spark.util import BoundedFitCache


_TEXT_STATS_ORACLE = f"""
SELECT doc_id,
       {TOKENS_SQL} AS n_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_tokens_bpe,
       len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
           / nullif(len(text), 0) AS alpha_ratio,
       md5({NORM_SQL}) AS fingerprint
FROM documents
"""


@register("text_stats", oracle=_TEXT_STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_tokens_bpe"),
        quality_alpha_ratio(t).alias("alpha_ratio"),
        fingerprint(t).alias("fingerprint"),
    )


def _lang_oracle() -> str:
    scores = {
        lang: f"len(regexp_extract_all({NORM_SQL}, '{pat}'))"
        for lang, pat in LANG_PROFILES.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n            ".join(
        f"WHEN {scores[lang]} = best THEN '{lang}'"
        for lang in LANG_PROFILES
    )
    return f"""
WITH scored AS (SELECT doc_id, lang, text, {best} AS best FROM documents)
SELECT doc_id, lang,
       CASE WHEN best = 0 THEN 'und'
            {whens}
       END AS lang_pred
FROM scored
"""


@register("lang_id", oracle=_lang_oracle())
def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", lang_id(F.col("text")).alias("lang_pred")
    )


# ---- BM25 keyword search --------------------------------------------------
# Inverted-index retrieval as aggregation: postings only for the query's
# terms (filter BEFORE groupBy — shuffle is |matching postings|, not
# |corpus tokens|), corpus stats broadcast, TakeOrdered top-k. The score
# expression string is shared verbatim between F.expr and this oracle,
# so the f64 op order is pinned by construction; per-doc term sums
# accumulate in DECIMAL(27,18) (order-independent).

_BM25_TERMS = ("spark", "query", "join")


def _bm25_oracle() -> str:
    from pywrangler_spark.operators.search import bm25_formula

    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS term
    FROM documents
), doclen AS (
    SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY 1
), stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM doclen
), tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
    FROM toks WHERE term IN ({terms})
    GROUP BY 1, 2
), dfreq AS (
    SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
)
SELECT doc_id,
       ROUND(CAST(SUM(CAST({bm25_formula()} AS DECIMAL(27,18))) AS DOUBLE),
             6) AS score,
       COUNT(*) AS n_terms
FROM tf
JOIN dfreq USING (term)
JOIN doclen USING (doc_id)
CROSS JOIN stats
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 10
"""


@register("bm25_search_docs", oracle=_bm25_oracle())
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.search import bm25_search

    return sf_table(spark, sf_dir, "documents").transform(
        bm25_search(list(_BM25_TERMS), "doc_id", "text", k=10)
    )


# ---- deterministic splits & stratified sampling ---------------------------
# Training-pipeline staples that must reproduce across engines, reruns
# and cluster sizes — md5-bucketed, never rand(). The split assignment is
# a pure projection (no shuffle); the stratified sample is one window per
# stratum with rank-limit pushdown.

_SPLIT_ORACLE = f"""
SELECT split, source, COUNT(*) AS n_docs
FROM (
    SELECT source,
           CASE WHEN {bucket_sql(42)} < 8000 THEN 'train'
                WHEN {bucket_sql(42)} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
GROUP BY 1, 2
"""


@register("hash_split_docs", oracle=_SPLIT_ORACLE)
def hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.sampling import hash_split

    return (
        sf_table(spark, sf_dir, "documents")
        .transform(
            hash_split(
                "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
            )
        )
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_STRAT_ORACLE = f"""
SELECT doc_id, source
FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {bucket_sql(42)}, doc_id
           ) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM documents
)
WHERE rn <= CEIL(0.2 * n)
"""


@register("stratified_sample_docs", oracle=_STRAT_ORACLE)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.sampling import stratified_exact_sample

    return (
        sf_table(spark, sf_dir, "documents")
        .transform(stratified_exact_sample("source", 0.2, "doc_id", seed=42))
        .select("doc_id", "source")
    )


# ---- document chunking -----------------------------------------------------
# Fixed-size overlapping windows with 1-based char offsets; the oracle
# re-derives the window grid with generate_series + substr (identical
# start/step arithmetic, both engines' substring is 1-based).

_CHUNK_ORACLE = """
SELECT doc_id,
       CAST(i AS INT) AS chunk_index,
       CAST(s AS INT) AS chunk_start,
       substr(text, s, 200) AS chunk
FROM documents,
     LATERAL (
        SELECT UNNEST(range(0, CAST(ceil(len(text) / 150.0) AS BIGINT))) AS i
     ),
     LATERAL (SELECT 1 + i * 150 AS s)
WHERE text IS NOT NULL AND len(text) > 0 AND s <= len(text)
"""


@register("chunk_documents_200", oracle=_CHUNK_ORACLE)
def chunk_documents_200(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.chunk import chunk_documents

    return sf_table(spark, sf_dir, "documents").transform(
        chunk_documents("doc_id", "text", chunk_size=200, overlap=50)
    )


# ---- percentile quality gate -----------------------------------------------
# Exact global percentile cutoffs on two signals, broadcast back as a
# 1-row cross join; DuckDB computes the same cutoffs with quantile_cont
# (continuous interpolation == F.percentile).

_GATE_ORACLE = f"""
WITH sig AS (
    SELECT doc_id,
           {TOKENS_SQL} AS n_tokens,
           len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
               / nullif(len(text), 0) AS alpha_ratio
    FROM documents
), cuts AS (
    SELECT quantile_cont(n_tokens, 0.05) AS lo_t,
           quantile_cont(n_tokens, 0.95) AS hi_t,
           quantile_cont(alpha_ratio, 0.10) AS lo_a
    FROM sig
)
SELECT doc_id, n_tokens, alpha_ratio
FROM sig, cuts
WHERE n_tokens >= lo_t AND n_tokens <= hi_t AND alpha_ratio >= lo_a
"""


@register("quality_gate_docs", oracle=_GATE_ORACLE)
def quality_gate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.quality import percentile_gate

    sig = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        quality_alpha_ratio(F.col("text")).alias("alpha_ratio"),
    )
    return sig.transform(
        percentile_gate(
            {"n_tokens": (0.05, 0.95), "alpha_ratio": (0.10, None)},
            exact=True,
        )
    )


# ---- vocabulary building: corpus term frequencies -------------------------
# explode(words) → one shuffle keyed by term (map-side partial counts);
# countDistinct(doc_id) goes through Catalyst's two-phase distinct
# rewrite — both counts stay exact. Deterministic top-k: occurrences
# DESC with term tiebreak, so the LIMIT boundary is engine-independent.
# At 100 TB this is the BPE-vocabulary / idf-table build; hot terms are
# fine (partial aggregation collapses them map-side before the shuffle).

_VOCAB_ORACLE = f"""
SELECT term,
       COUNT(*)                AS occurrences,
       COUNT(DISTINCT doc_id)  AS n_docs
FROM (
    SELECT doc_id,
           unnest(string_split(
               {NORM_SQL},
               ' ')) AS term
    FROM documents
)
WHERE term <> ''
GROUP BY term
ORDER BY occurrences DESC, term
LIMIT 200
"""


@register("vocab_top_terms", oracle=_VOCAB_ORACLE)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus terms by occurrence (with document frequency) —
    the vocabulary/idf-table build step of a text pipeline."""
    toks = sf_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    )
    agg = (
        toks.where(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    return agg.orderBy(F.desc("occurrences"), "term").limit(200)


# ---- sequence packing: documents -> fixed token-budget packs --------------
# Contiguous-fill packing per shard (operators.pack): pack_id =
# floor(running-token-total-before / budget) over (shard, doc_id) order.
# One window per shard = one Exchange; the oracle re-derives the same
# running sum with a SQL window frame.

_PACK_ORACLE = f"""
WITH sig AS (
    SELECT doc_id,
           doc_id % 4 AS shard,
           {TOKENS_SQL} AS n_tokens
    FROM documents
), c AS (
    SELECT *,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM sig
)
SELECT doc_id,
       shard,
       CAST(n_tokens AS BIGINT)                    AS n_tokens,
       CAST(FLOOR(cb / 512.0) AS BIGINT)           AS pack_id,
       CAST(cb - FLOOR(cb / 512.0) * 512 AS BIGINT) AS pack_offset
FROM c
"""


@register("pack_docs_512", oracle=_PACK_ORACLE)
def pack_docs_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token budget packs within 4 deterministic
    shards — ``operators.pack.pack_sequences``."""
    from pywrangler_spark.operators.pack import pack_sequences

    sig = sf_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 4).alias("shard"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    return sig.transform(
        pack_sequences("n_tokens", 512, "doc_id", "shard")
    )


# ---- pack rendering: the materialized training sequences ------------------
# render_packs after pack_sequences: one row per (shard, pack) with the
# member documents concatenated in order and their boundary offsets —
# what a dataloader actually reads. The oracle extends the packing CTE
# with the same ordered aggregation.

_PACK_RENDER_ORACLE = f"""
WITH sig AS (
    SELECT doc_id,
           doc_id % 4 AS shard,
           text,
           {TOKENS_SQL} AS n_tokens
    FROM documents
    WHERE text IS NOT NULL
), c AS (
    SELECT *,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM sig
), p AS (
    SELECT doc_id, shard, text, n_tokens,
           CAST(FLOOR(cb / 512.0) AS BIGINT) AS pack_id,
           CAST(cb - FLOOR(cb / 512.0) * 512 AS BIGINT) AS pack_offset
    FROM c
)
SELECT shard, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       string_agg(CAST(pack_offset AS VARCHAR), ',' ORDER BY doc_id)
           AS boundaries,
       string_agg(text, ' ' ORDER BY doc_id) AS packed_text
FROM p
GROUP BY shard, pack_id
"""


@register("pack_render_512", oracle=_PACK_RENDER_ORACLE)
def pack_render_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized 512-token packs — ``operators.pack.render_packs``
    over ``pack_sequences`` assignments."""
    from pywrangler_spark.operators.pack import (
        pack_sequences,
        render_packs,
    )

    docs = sf_table(spark, sf_dir, "documents")
    sig = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        (F.col("doc_id") % 4).alias("shard"),
        "text",
        token_count(F.col("text")).alias("n_tokens"),
    )
    rendered = sig.transform(
        pack_sequences("n_tokens", 512, "doc_id", "shard")
    ).transform(
        render_packs("text", "n_tokens", "doc_id", "shard")
    )
    # The operator's boundaries column is array<bigint> (the API the
    # golden tests cover); the driver gate canonicalizes via pandas
    # sort_values, which cannot hash raw lists — render it as a
    # comma-joined string for the oracle comparison.
    return rendered.withColumn(
        "boundaries",
        F.array_join(
            F.transform("boundaries", lambda x: x.cast("string")), ","
        ),
    )


# ---- within-document repetition (Gopher-style quality filters) ------------
# Scan-side array lambdas on both engines — no shuffle; the DuckDB twin
# uses the identical list_transform/list_filter lambdas, so the counts
# (and the rounded ratios) match exactly.

_REPETITION_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split({NORM_SQL}, ' ') AS ws FROM documents
), c AS (
    SELECT doc_id, ws, len(ws) AS n,
           CASE WHEN len(ws) >= 2
                THEN list_transform(range(1, len(ws)),
                                    i -> ws[i] || ' ' || ws[i + 1])
                ELSE [] END AS bg
    FROM w
)
SELECT doc_id,
       round(1.0 - len(list_distinct(ws)) / nullif(n * 1.0, 0), 6)
           AS dup_word_ratio,
       round(list_max(list_transform(list_distinct(ws),
                 x -> len(list_filter(ws, y -> y = x))))
             / nullif(n * 1.0, 0), 6) AS top_word_ratio,
       round(list_max(list_transform(list_distinct(bg),
                 x -> len(list_filter(bg, y -> y = x))))
             / nullif(len(bg) * 1.0, 0), 6) AS top_bigram_ratio
FROM c
"""


def _repetition_count_batches(batches):
    """mapInPandas kernel for :func:`repetition_quality_docs`: per-doc
    INTEGER repetition counts (token count, distinct tokens, top token
    count, bigram count, top bigram count). Integers only — the ratio
    arithmetic (f64 division + round) stays in JVM expressions so the
    output is bit-identical to the exploded-aggregation form regardless
    of Python/JVM rounding conventions. Empty/NULL docs emit zeros; the
    consumer's nullif(...) guards turn those into the NULL ratios the
    oracle expects."""
    from collections import Counter

    import pandas as pd

    for pdf in batches:
        n, nd, tc, bn, btc = [], [], [], [], []
        for ws in pdf["ws"]:
            if ws is None or len(ws) == 0:
                n.append(0); nd.append(0); tc.append(0)
                bn.append(0); btc.append(0)
                continue
            c = Counter(ws)
            n.append(len(ws))
            nd.append(len(c))
            tc.append(max(c.values()))
            if len(ws) >= 2:
                # tuple bigrams: tokens never contain whitespace (words()
                # splits on \s+), so pair counts equal joined-string counts
                b = Counter(zip(ws, ws[1:]))
                bn.append(len(ws) - 1)
                btc.append(max(b.values()))
            else:
                bn.append(0); btc.append(0)
        # doc_id as a plain array: mixing an indexed Series with
        # positional lists only aligns while the batch carries a default
        # RangeIndex — to_numpy() keeps the kernel safe on any frame.
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "n": n, "n_distinct": nd, "top_c": tc,
                "bn": bn, "btop_c": btc,
            }
        )


@register("repetition_quality_docs", oracle=_REPETITION_ORACLE)
def repetition_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition ratios (dup-word, top-word share,
    top-bigram share) — zero-exchange mapInPandas form.

    Three formulations were measured:

    - higher-order array lambdas (``functions.text.repetition_struct``,
      kept for scan-side composition): CodegenFallback (interpreted),
      9 s at sf0.1;
    - explode + two-level hash aggregation (r9-r11's form): stays in
      codegen, but its exchanges carry the corpus's per-doc
      distinct-token AND distinct-bigram surfaces (~corpus-linear — the
      bigram stream is nearly one row per corpus token) through 7
      exchanges plus a doc-keyed double join;
    - this form (guide §4.2): tokenization stays a JVM projection
      (identical ``words()`` semantics), token arrays cross the Arrow
      boundary once, and per-doc INTEGER counts come back from a
      ``Counter`` pass — counts are engine-exact, and the ratio
      division + round-6 stay JVM-side, so values are bit-identical to
      the aggregation form (equivalence test in
      ``tests/test_resample_cap.py``). The plan has ZERO exchanges
      apart from ``_scale_out``'s optional round-robin repartition on
      under-split inputs (e.g. the single-file sf0.1 corpus; skipped
      whenever the scan already has splits): per-doc stats are
      data-parallel, no data-growing shuffle exists at any corpus size
      (the aggregation form's exchange grew linearly).
    """
    from pywrangler_spark.operators.dedup import _scale_out

    base = _scale_out(sf_table(spark, sf_dir, "documents")).select(
        "doc_id", words(F.col("text")).alias("ws")
    )
    stats = base.mapInPandas(
        _repetition_count_batches,
        "doc_id long, n long, n_distinct long, top_c long, "
        "bn long, btop_c long",
    )
    nn = F.nullif(F.col("n").cast("double"), F.lit(0.0))
    bnn = F.nullif(F.col("bn").cast("double"), F.lit(0.0))
    return stats.select(
        "doc_id",
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / nn, 6
        ).alias("dup_word_ratio"),
        F.round(F.col("top_c").cast("double") / nn, 6).alias(
            "top_word_ratio"
        ),
        F.round(F.col("btop_c").cast("double") / bnn, 6).alias(
            "top_bigram_ratio"
        ),
    )


# ---- per-source caps (anti-domination) ------------------------------------
# The web-corpus staple: no source may contribute more than N documents.
# Hash-order selection keeps the cap a uniform deterministic sample; the
# constant rank predicate plans as WindowGroupLimit (hot sources are
# capped map-side before the exchange — the zipfian-scale property).

_CAP_ORACLE = f"""
SELECT doc_id, source
FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {bucket_sql(42)}, doc_id
           ) AS rn
    FROM documents
)
WHERE rn <= 15
"""


@register("cap_docs_per_source", oracle=_CAP_ORACLE)
def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.sampling import cap_per_key

    return (
        sf_table(spark, sf_dir, "documents")
        .transform(cap_per_key("source", 15, "doc_id", seed=42))
        .select("doc_id", "source")
    )


# ---- corpus mix planner (epoch sampling weights per source) ---------------
# The data-mixing step: given a target share per source (uniform here),
# compute each source's actual token share and the sampling weight
# (target/actual) that flattens the mix. One aggregate + a broadcast
# 1-row total — the plan every mixing-weight computation should have.

_MIX_ORACLE = f"""
WITH per_source AS (
    SELECT source,
           CAST(SUM({TOKENS_SQL}) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
), tot AS (
    SELECT SUM(n_tokens) AS total_tokens,
           COUNT(*) AS n_sources
    FROM per_source
)
SELECT source,
       n_docs,
       n_tokens,
       ROUND(n_tokens * 1.0 / total_tokens, 6) AS token_share,
       ROUND((1.0 / n_sources) / (n_tokens * 1.0 / total_tokens), 6)
           AS sampling_weight
FROM per_source, tot
"""


@register("source_mix_weights", oracle=_MIX_ORACLE)
def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_source = (
        sf_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).alias("n_tokens"),
        )
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    share = F.col("n_tokens") / F.col("total_tokens")
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round((F.lit(1.0) / F.col("n_sources")) / share, 6).alias(
            "sampling_weight"
        ),
    )


# ---- token-budget chunking ------------------------------------------------
# Windows of 60 tokens with 10-token overlap; the oracle rebuilds the
# same windows with list_slice over the split tokens (both engines
# 1-based on the slice start, 0-based on the emitted token offset).

_TOKEN_CHUNK_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split({NORM_SQL}, ' ') AS ws
    FROM documents
    WHERE text IS NOT NULL AND {NORM_SQL} != ''
), starts AS (
    SELECT doc_id, ws,
           UNNEST(range(0, greatest(len(ws), 1), 50)) AS token_start
    FROM w
)
SELECT doc_id,
       CAST(token_start // 50 AS INT) AS chunk_index,
       CAST(token_start AS INT) AS token_start,
       array_to_string(list_slice(ws, token_start + 1,
                                  token_start + 60), ' ') AS chunk,
       CAST(len(list_slice(ws, token_start + 1, token_start + 60))
            AS BIGINT) AS n_tokens
FROM starts
"""


@register("chunk_docs_by_tokens", oracle=_TOKEN_CHUNK_ORACLE)
def chunk_docs_by_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.chunk import chunk_by_tokens

    return sf_table(spark, sf_dir, "documents").transform(
        chunk_by_tokens(
            "doc_id", "text", tokens_per_chunk=60, overlap_tokens=10
        )
    )


# ---- content-defined chunking ---------------------------------------------
# Boundaries cut where (h[i-1]*31 + h[i]) mod 16 == 0 over per-token
# md5-derived 56-bit hashes — a purely local decision, so boundaries
# re-align after edits (the CDC dedup property). The oracle re-derives
# the identical cut set by hashing the token array once and numbering
# chunks with a running sum of cut flags. 31·h + h' < 2^61 fits signed
# int64 on both engines.

_CDC_AVG = 16

_CDC_CHUNK_ORACLE = cdc_chunks_sql(_CDC_AVG) + """
SELECT doc_id, chunk_index,
       CAST(min(pos) - 1 AS INT) AS token_start,
       string_agg(tok, ' ' ORDER BY pos) AS chunk,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM numbered
GROUP BY doc_id, chunk_index
"""


@register("chunk_docs_cdc", oracle=_CDC_CHUNK_ORACLE)
def chunk_docs_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.chunk import chunk_content_defined

    return sf_table(spark, sf_dir, "documents").transform(
        chunk_content_defined("doc_id", "text", avg_tokens=_CDC_AVG)
    )


# ---- real BPE tokenization -------------------------------------------------
# The merge loop is inherently iterative (not SQL-expressible), so the
# query is gated on hard invariants instead: merges never cross word
# boundaries, so for every document
#   whitespace token count <= bpe token count <= non-space char count,
# and the merge table is deterministic (count-desc, lexicographic ties)
# so counts are reproducible run to run. The oracle checks the
# deterministic (n_docs, bounds_ok) row.
_BPE_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS bounds_ok
FROM documents
"""

# fit-once serve-many, the queries/similarity.py convention
_BPE_MERGES: dict = BoundedFitCache()


@register("bpe_token_stats", oracle=_BPE_ORACLE)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.functions.text import (
        normalize_text,
        token_count,
    )
    from pywrangler_spark.operators.bpe import bpe_encode, train_bpe

    docs = sf_table(spark, sf_dir, "documents")
    merges = _BPE_MERGES.get_or_fit(
        sf_dir, lambda: train_bpe(docs, "text", n_merges=200)
    )
    encoded = docs.transform(bpe_encode(merges, "text"))
    n_words = token_count(F.col("text"))
    n_chars = F.length(
        F.regexp_replace(normalize_text(F.col("text")), " ", "")
    )
    per_doc_ok = (
        (n_words <= F.col("bpe_token_count"))
        & (F.col("bpe_token_count") <= F.coalesce(n_chars, F.lit(0)))
    ) | F.col("text").isNull()
    return encoded.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.every(per_doc_ok).alias("bounds_ok"),
    )


# ---- hashed doc vectors + model-free semantic near-dup ---------------------
# Signed feature hashing (md5 arithmetic, bit-reproducible) gives every
# document a dense 64-d vector; exact cosine pairs over those vectors
# are then fully hash-checkable — the model-free text -> ANN bridge.
def _doc_vectors_sql(dim: int, where: str = "") -> str:
    """``WITH`` prefix ending in ``vec(doc_id, v)``: the signed
    feature-hashed ``dim``-d vector of every document ``where`` keeps
    (``operators.docvec.hashed_doc_vectors``)."""
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS tok
    FROM documents{where}
), t2 AS (SELECT * FROM toks WHERE tok <> ''),
h AS (
    SELECT doc_id, {md5_bits_sql("tok")} AS h FROM t2
), cell AS (
    SELECT doc_id, h % {dim} AS idx,
           CASE WHEN (h & (1::BIGINT << 55)) != 0
                THEN 1.0 ELSE -1.0 END AS s
    FROM h
), agg AS (
    SELECT doc_id, idx, CAST(SUM(s) AS DOUBLE) AS v
    FROM cell GROUP BY 1, 2
), vecm AS (
    SELECT doc_id, map(list(idx), list(v)) AS m FROM agg GROUP BY doc_id
), vec AS (
    SELECT doc_id,
           list_transform(range(0, {dim}), i -> coalesce(m[i][1], 0.0)) AS v
    FROM vecm
)"""


_DOCVEC_NEARDUP_ORACLE = _doc_vectors_sql(
    64, " WHERE doc_id < 2000"
) + """, e AS (
    SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS n FROM vec
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(list_dot_product(a.v, b.v) / nullif(a.n * b.n, 0.0), 6)
           AS cosine
FROM e a JOIN e b ON a.doc_id < b.doc_id
WHERE round(list_dot_product(a.v, b.v) / nullif(a.n * b.n, 0.0), 6)
      >= 0.5
"""


@register("docvec_neardup_pairs", oracle=_DOCVEC_NEARDUP_ORACLE)
def docvec_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.docvec import hashed_doc_vectors
    from pywrangler_spark.operators.similarity import cosine_neardup_pairs

    # quadratic exact tier: capped at 2000 docs like the other
    # pairwise verification demos (_JACCARD_CAP); the scale path for
    # doc vectors is the ANN ladder (LSH/IVF/PQ) over the same vectors
    vecs = (
        sf_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 2000)
        .transform(hashed_doc_vectors("doc_id", "text", dim=64))
    )
    return (
        vecs.transform(
            cosine_neardup_pairs("id", "doc_vec", threshold=0.5)
        )
    )


_FREQ_ORACLE = """
WITH f AS (
    SELECT source, count(*) AS n FROM documents
    WHERE source IS NOT NULL GROUP BY 1
), tot AS (SELECT count(*) AS t FROM documents)
SELECT d.doc_id,
       round(f.n * 1.0 / tot.t, 6) AS source_freq
FROM documents d
LEFT JOIN f USING (source)
CROSS JOIN tot
"""


@register("frequency_encode_sources", oracle=_FREQ_ORACLE)
def frequency_encode_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.clean import frequency_encode

    return (
        sf_table(spark, sf_dir, "documents")
        .transform(frequency_encode("source"))
        .select("doc_id", F.col("source_freq"))
    )


# ---- ANN over hashed doc vectors (the discovery path for docvec) ----------
_DOCVEC_ANN_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM documents WHERE {query_gate_sql("doc_id")} AND {NORM_SQL} <> ''
"""


@register("docvec_ann_lsh", oracle=_DOCVEC_ANN_ORACLE)
def docvec_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-k over the hashed doc vectors, gated on
    recall@10 vs the exact tier (floor 0.6; 0.885 measured — text
    vectors carry structure the random-embedding gates lack). The
    model-free semantic-search discovery path at corpus scale."""
    from pywrangler_spark.operators.docvec import hashed_doc_vectors
    from pywrangler_spark.operators.similarity import (
        suggest_ann_params,
        topk_cosine,
        topk_cosine_lsh,
    )
    from pywrangler_spark.queries.similarity import recall_gate
    from pywrangler_spark.util import CacheScope

    # Materialize the vector table ONCE: the gate's two tiers reference
    # this lineage 4+ times (query collect + corpus side per tier), and
    # Spark re-executes the text->vector aggregation per reference —
    # measured as the top sf10 line (63.5 s) before the persist. A
    # derived vector table is ~0.5% of corpus bytes (id + 64 doubles);
    # materializing it is exactly what every production ANN system does
    # before serving. The cache lives in a scope tied to the returned
    # gate frame, so dropping the result frees it.
    scope = CacheScope()
    vecs = scope.persist(
        sf_table(spark, sf_dir, "documents").transform(
            hashed_doc_vectors("doc_id", "text", dim=64)
        )
    )
    # fixed query batch: the cap is a no-op at driver scales and
    # pins serving cost to (batch x corpus) at larger ones
    qf = query_gate("id")
    exact = vecs.transform(
        topk_cosine("id", "doc_vec", k=10, query_filter=qf)
    )
    # table count from the capacity schedule (+1 per decade) — the
    # count doubles as the persisted vector table's materialization
    n_tables = suggest_ann_params(vecs.count())["n_tables"]
    approx = vecs.transform(
        topk_cosine_lsh(
            "id", "doc_vec", k=10, n_planes=8, n_tables=n_tables,
            dim=64, query_filter=qf,
        )
    )
    return scope.tie(recall_gate(exact, approx, floor=0.6))


# ---- LSH-only serve path (the production shape; the gate above is the
# audit twin) -----------------------------------------------------------------
def _docvec_serve_oracle(
    dim: int = 64, n_planes: int = 8, k: int = 10, max_tables: int = 9
) -> str:
    """DuckDB SQL reproducing ``docvec_ann_lsh_serve`` bit-for-bit.

    Possible because every stage is exact cross-engine arithmetic:
    hashed token-count vectors (md5/hash56, integer counts), ±1
    Rademacher hyperplanes (integer projections — no fp-order sign
    hazard; the same numpy constants are embedded below), round-6
    cosine over integer dot products (the op order the neardup oracle
    already hash-matches). ``n_tables`` is schedule-derived from the
    corpus count IN SQL (mirroring ``suggest_ann_params``); planes are
    embedded for up to ``max_tables`` tables (covers past sf100) and
    filtered to the derived count."""
    from pywrangler_spark.operators.similarity import (
        rademacher_hyperplanes,
    )

    rows = []
    for t in range(max_tables):
        planes = rademacher_hyperplanes(n_planes, dim, 42 + 1000 * t)
        for p, w in enumerate(planes):
            lit = "[" + ",".join("1.0" if c > 0 else "-1.0" for c in w) + "]"
            rows.append(f"({t},{p},{lit})")
    masks = ",".join(f"({m})" for m in [0] + [1 << i for i in range(n_planes)])
    return _doc_vectors_sql(dim) + f""", e AS (
    SELECT doc_id AS id, v, sqrt(list_dot_product(v, v)) AS n FROM vec
), nt0 AS (
    SELECT 4 + CAST(round(greatest(0.0, log10(count(*) / 2000.0)))
                    AS INTEGER) AS n_tables
    FROM e
), nt AS (
    -- guard: the derived table count must not exceed the embedded
    -- plane set, else `pl.t < n_tables` would silently compute the
    -- expected output from fewer tables than Spark uses and the gate
    -- would fail as a confusing hash mismatch instead of this error
    SELECT CASE WHEN n_tables > {max_tables}
                THEN CAST(error('derived n_tables ' || n_tables ||
                                ' exceeds embedded max_tables={max_tables}'
                                ) AS INTEGER)
                ELSE n_tables END AS n_tables
    FROM nt0
), planes(t, p, w) AS (VALUES {",".join(rows)}),
bits AS (
    SELECT e.id, pl.t, pl.p,
           CASE WHEN list_dot_product(e.v, pl.w) > 0
                THEN (1 << pl.p) ELSE 0 END AS bit
    FROM e, planes pl, nt WHERE pl.t < nt.n_tables
), buck AS (
    SELECT id, t, CAST(SUM(bit) AS INTEGER) AS bucket FROM bits GROUP BY 1, 2
), probes(mask) AS (VALUES {masks}),
qprobe AS (
    SELECT DISTINCT qb.id AS qid, qb.t, xor(qb.bucket, probes.mask) AS bucket
    FROM buck qb, probes WHERE {query_gate_sql("qb.id")}
), cand AS (
    SELECT DISTINCT qp.qid, b.id
    FROM qprobe qp JOIN buck b ON b.t = qp.t AND b.bucket = qp.bucket
    WHERE b.id != qp.qid
), scored AS (
    SELECT c.qid, c.id,
           round(list_dot_product(q.v, b.v) / nullif(q.n * b.n, 0.0), 6)
               AS cosine
    FROM cand c JOIN e q ON q.id = c.qid JOIN e b ON b.id = c.id
), ranked AS (
    SELECT qid, id, cosine,
           row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC NULLS LAST, id ASC
           ) AS rank
    FROM scored
)
SELECT qid AS query_id, id AS neighbor_id, cosine,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


@register("docvec_ann_lsh_serve", oracle=_docvec_serve_oracle())
def docvec_ann_lsh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a production semantic-search deployment actually pays per
    batch: LSH bucket probing + candidate rerank ONLY — no exact-tier
    GEMM. ``docvec_ann_lsh`` above keeps the exact tier as the recall
    AUDIT twin (run per corpus rev, not per query batch); this is the
    serve path, and its top-k output is hash-checked against a full
    DuckDB re-derivation (±1 planes make every bucket bit exact integer
    arithmetic — see :func:`_docvec_serve_oracle`). Same pattern as the
    resample dense/runs twins: the expensive exact path is the audit,
    the bounded path is what scales. Measured trade for the ±1 family:
    recall@10 vs the exact tier 0.846 vs Gaussian's 0.885 at sf0.01 —
    ~0.04 recall buys a hash-checkable serve path (the Gaussian gate
    twin keeps the recall audit)."""
    from pywrangler_spark.operators.docvec import hashed_doc_vectors
    from pywrangler_spark.operators.similarity import (
        suggest_ann_params,
        topk_cosine_lsh,
    )
    from pywrangler_spark.util import CacheScope

    # the serve tier reads the vector table a production system has
    # already materialized; persist stands in for that table (count =
    # materialization + the capacity-schedule input, as in the gate),
    # scoped to the returned frame's lifetime
    scope = CacheScope()
    vecs = scope.persist(
        sf_table(spark, sf_dir, "documents").transform(
            hashed_doc_vectors("doc_id", "text", dim=64)
        )
    )
    n_tables = suggest_ann_params(vecs.count())["n_tables"]
    out = vecs.transform(
        topk_cosine_lsh(
            "id", "doc_vec", k=10, n_planes=8, n_tables=n_tables,
            dim=64, plane_kind="rademacher",
            query_filter=query_gate("id"),
        )
    )
    return scope.tie(out.select("query_id", "neighbor_id", "cosine", "rank"))


# ---- PII redaction ---------------------------------------------------------
# The oracle chain is BUILT from the operator's own pattern table
# (operators.redact._PATTERNS), so engine parity is by construction:
# patterns are restricted to the Java-regex/RE2 common subset and
# applied in the same fixed order. Docs are augmented with deterministic
# PII (one third email+ip, one third ssn+card+phone, one third clean)
# so the redactor and its counts are genuinely exercised.


def _redact_oracle() -> str:
    from pywrangler_spark.operators.redact import KINDS, pii_pattern

    aug = (
        "CASE WHEN doc_id % 3 = 0 THEN text || ' contact u' || doc_id "
        "|| '@example.org from 10.0.' || (doc_id % 256) || '.7' "
        "WHEN doc_id % 3 = 1 THEN text || ' ssn 123-45-6789 card "
        "4111 1111 1111 1111 call +1 555-123-4567' "
        "ELSE text END"
    )
    red = aug
    for k in KINDS:
        pat = pii_pattern(k).replace("'", "''")
        red = (
            f"regexp_replace({red}, '{pat}', '[{k.upper()}]', 'g')"
        )
    counts = " + ".join(
        f"(len(red) - len(replace(red, '[{k.upper()}]', ''))) "
        f"// {len(k) + 2}"
        for k in KINDS
    )
    return f"""
WITH redacted AS (SELECT doc_id, {red} AS red FROM documents)
SELECT doc_id, red AS text,
       CASE WHEN red IS NULL THEN NULL
            ELSE CAST({counts} AS INT) END AS n_redactions
FROM redacted
"""


@register("redact_pii_docs", oracle=_redact_oracle())
def redact_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails/IPs/SSNs/cards/phones from documents and count the
    redacted spans — scan-side regexp_replace chain, zero exchanges."""
    from pywrangler_spark.operators.redact import redact_pii

    docs = sf_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pii_a = F.concat(
        F.col("text"),
        F.lit(" contact u"), d.cast("string"),
        F.lit("@example.org from 10.0."),
        (d % 256).cast("string"), F.lit(".7"),
    )
    pii_b = F.concat(
        F.col("text"),
        F.lit(
            " ssn 123-45-6789 card 4111 1111 1111 1111 "
            "call +1 555-123-4567"
        ),
    )
    aug = docs.select(
        "doc_id",
        F.when(d % 3 == 0, pii_a)
        .when(d % 3 == 1, pii_b)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return aug.transform(redact_pii(count_column="n_redactions"))
