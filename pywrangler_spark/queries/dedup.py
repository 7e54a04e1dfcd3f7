"""Deduplication queries over ``documents`` + DuckDB oracles.

The MinHash oracle re-derives the full signature/banding pipeline in SQL
(list comprehensions + the same md5-derived 28-bit hashes and seeded
permutation coefficients), so even the approximate path is hash-checked
exactly. SimHash likewise (generated 63-bit majority-vote SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywrangler_spark.operators.dedup import (
    MERSENNE31,
    SIMHASH_BITS,
    dedup_exact,
    duplicate_groups,
    minhash_lsh_pairs,
    minhash_params,
    containment_pairs,
    ngram_jaccard_pairs,
    simhash_table,
)
from pywrangler_spark.queries import register
from pywrangler_spark.queries._shared import (
    NORM_SQL,
    REACH_SQL,
    cdc_chunks_sql,
    md5_bits_sql,
)
from pywrangler_spark.sources import sf_table


_DEDUP_GROUPS_ORACLE = f"""
SELECT md5({NORM_SQL}) AS fingerprint,
       min(doc_id) AS rep_id,
       count(*) AS n_docs
FROM documents
GROUP BY 1
"""


@register("dedup_exact_groups", oracle=_DEDUP_GROUPS_ORACLE)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sf_table(spark, sf_dir, "documents").transform(
        duplicate_groups("doc_id", "text")
    )


_DEDUP_ROWS_ORACLE = f"""
SELECT doc_id, text, lang, source, n_chars
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5({NORM_SQL})
                           ORDER BY doc_id) = 1
"""


@register("dedup_exact_rows", oracle=_DEDUP_ROWS_ORACLE)
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sf_table(spark, sf_dir, "documents").transform(
        dedup_exact("doc_id", "text")
    )


# ---- n-gram Jaccard (exact near-dup verification path) --------------------

# the exact all-pairs verifier is quadratic by nature; its query scope is
# capped at 2000 docs so the demonstration stays bounded at any sf (the
# LSH query covers the full corpus — that is the scale path)
_JACCARD_CAP = 2000

def _shingles_sql(where: str = "") -> str:
    return f"""
WITH d AS (
    SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents
    {where}
), sh AS (
    SELECT DISTINCT doc_id, s
    FROM d, UNNEST(list_transform(
        range(1, greatest(len(w) - 2, 0) + 1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) t(s)
)
"""


# capped: the exact all-pairs verifier (quadratic); uncapped: minhash
_SHINGLES_SQL = _shingles_sql(f"WHERE doc_id < {_JACCARD_CAP}")
_SHINGLES_SQL_ALL = _shingles_sql()

_SHINGLE_HASH_SQL = f"""
, shh AS (
    SELECT doc_id, {md5_bits_sql("s")} AS h FROM sh
)"""

# per-doc shingle counts and per-pair shared counts: the Jaccard terms
_JACCARD_TERMS_SQL = """\
, cnt AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
    FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""

_JACCARD_ORACLE = (
    _SHINGLES_SQL
    + _SHINGLE_HASH_SQL
    + _JACCARD_TERMS_SQL
    + """
SELECT id_a, id_b, round(k * 1.0 / (ca.n + cb.n - k), 6) AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = id_a
JOIN cnt cb ON cb.doc_id = id_b
WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5
"""
)


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = sf_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _JACCARD_CAP
    ).transform(
        ngram_jaccard_pairs("doc_id", "text", shingle_k=3, threshold=0.5)
    )
    return pairs.withColumn("jaccard", F.round("jaccard", 6))


# ---- containment (overlap coefficient, df-capped) --------------------------

# the frequency cap that bounds each shingle bucket before the self-join;
# the oracle replicates the identical capped definition
_CONTAIN_MAX_DF = 20
_CONTAIN_THRESHOLD = 0.9

_CONTAINMENT_ORACLE = (
    _SHINGLES_SQL_ALL
    + _SHINGLE_HASH_SQL
    + f""", kept AS (
    SELECT h FROM shh GROUP BY h HAVING count(*) <= {_CONTAIN_MAX_DF}
), shk AS (
    SELECT shh.doc_id, shh.h FROM shh JOIN kept USING (h)
), cnt AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
    FROM shk a JOIN shk b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, round(k * 1.0 / least(ca.n, cb.n), 6) AS containment
FROM inter
JOIN cnt ca ON ca.doc_id = id_a
JOIN cnt cb ON cb.doc_id = id_b
WHERE k * 1.0 / least(ca.n, cb.n) >= {_CONTAIN_THRESHOLD}
"""
)


@register("dedup_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (small-doc-in-big-doc) near-dups the Jaccard family
    misses: overlap-coefficient pairs over df-capped shingles — the cap
    bounds the self-join's per-bucket fan-out at any corpus size, so this
    runs over the FULL corpus (the exact Jaccard verifier is scoped to
    2000 docs)."""
    from pywrangler_spark.util import keep_alive

    pairs = sf_table(spark, sf_dir, "documents").transform(
        containment_pairs(
            "doc_id", "text", shingle_k=3,
            threshold=_CONTAIN_THRESHOLD, max_df=_CONTAIN_MAX_DF,
        )
    )
    # keep_alive: the shingle cache is tied to ``pairs``; the derived
    # rounding projection must carry it (util.keep_alive)
    return keep_alive(
        pairs.withColumn("containment", F.round("containment", 6)), pairs
    )


# ---- MinHash + LSH ---------------------------------------------------------

_NUM_HASHES, _BANDS, _ROWS = 16, 4, 4


def _minhash_oracle() -> str:
    params = minhash_params(_NUM_HASHES)
    sig_exprs = ", ".join(
        f"list_min(list_transform(hh, h -> ({a} * h + {b}) % {MERSENNE31}))"
        for a, b in params
    )
    band_exprs = ", ".join(
        "md5(array_to_string(sig[{lo}:{hi}], ','))".format(
            lo=j * _ROWS + 1, hi=(j + 1) * _ROWS
        )
        for j in range(_BANDS)
    )
    return (
        _SHINGLES_SQL_ALL
        + f"""
, shl AS (
    SELECT doc_id, list(s) AS shs FROM sh GROUP BY doc_id
), hs AS (
    SELECT doc_id,
           list_transform(shs, s -> {md5_bits_sql("s", 7)})
               AS hh
    FROM shl WHERE len(shs) > 0
), sig_t AS (
    SELECT doc_id, [{sig_exprs}] AS sig FROM hs
), bands_t AS (
    SELECT doc_id, sig, UNNEST([{band_exprs}]) AS bh,
           UNNEST(range(0, {_BANDS})) AS band
    FROM sig_t
), pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.sig AS sig_a, b.sig AS sig_b
    FROM bands_t a JOIN bands_t b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       list_sum(list_transform(range(1, {_NUM_HASHES} + 1),
           i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
           / {float(_NUM_HASHES)} AS sig_similarity
FROM pairs
WHERE list_sum(list_transform(range(1, {_NUM_HASHES} + 1),
          i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
          / {float(_NUM_HASHES)} >= 0.5
"""
    )


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sf_table(spark, sf_dir, "documents").transform(
        minhash_lsh_pairs(
            "doc_id",
            "text",
            num_hashes=_NUM_HASHES,
            bands=_BANDS,
            min_signature_similarity=0.5,
        )
    )


# ---- SimHash ----------------------------------------------------------------


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, UNNEST(string_split({NORM_SQL}, ' ')) AS tok
    FROM documents
), hashed AS (
    SELECT doc_id, {md5_bits_sql("tok")} AS h FROM toks
    WHERE tok <> ''
), votes AS (
    SELECT doc_id AS id, {votes} FROM hashed GROUP BY doc_id
)
SELECT id, CAST({assemble} AS BIGINT) AS simhash FROM votes
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sf_table(spark, sf_dir, "documents").transform(
        simhash_table("doc_id", "text")
    )


# ---- near-dup clusters: pairs -> connected components ----------------------
# The jaccard pairs (same derivation as dedup_ngram_jaccard, same cap)
# resolved into clusters by iterative hash-min label propagation
# (operators/graph.py). The oracle is a genuinely independent
# implementation: DuckDB's recursive CTE computes the transitive
# closure and takes MIN(reachable id) per vertex.

_CLUSTERS_ORACLE = (
    _SHINGLES_SQL.replace("WITH d AS", "WITH RECURSIVE d AS")
    + _SHINGLE_HASH_SQL
    + _JACCARD_TERMS_SQL
    + f""", pairs AS (
    SELECT id_a, id_b
    FROM inter
    JOIN cnt ca ON ca.doc_id = id_a
    JOIN cnt cb ON cb.doc_id = id_b
    WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5
), {REACH_SQL}
SELECT id AS doc_id, CAST(MIN(lab) AS BIGINT) AS component
FROM reach GROUP BY id
"""
)


@register("dedup_clusters_jaccard", oracle=_CLUSTERS_ORACLE)
def dedup_clusters_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.graph import connected_components

    pairs = (
        sf_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _JACCARD_CAP)
        .transform(
            ngram_jaccard_pairs("doc_id", "text", shingle_k=3, threshold=0.5)
        )
        .select("id_a", "id_b")
    )
    return connected_components(
        pairs, src="id_a", dst="id_b",
        id_column="doc_id", component_column="component",
    )


def _simhash_near_oracle(max_hamming: int = 3) -> str:
    """Exact quadratic hamming join over the sketches. The Spark side
    uses the pigeonhole multi-index (complete for hamming <= k), so a
    hash-match against the brute-force tier proves the index loses no
    pair."""
    return f"""
WITH sketches AS ({_simhash_oracle()})
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sketches a JOIN sketches b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register("dedup_simhash_near", oracle=_simhash_near_oracle(5))
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-near pairs via the block multi-index. Threshold 5
    (6 blocks of 10-11 bits) keeps the block joins selective — ~2^-10
    collision probability per block — while the synthetic corpus still
    yields a non-trivial pair set (105 pairs at sf0.01, ~10k at sf0.1)
    to hash-verify against the brute-force oracle."""
    from pywrangler_spark.operators.dedup import simhash_near_pairs
    from pywrangler_spark.util import keep_alive

    pairs = sf_table(spark, sf_dir, "documents").transform(
        simhash_near_pairs("doc_id", "text", max_hamming=5)
    )
    # keep_alive: the cast must carry the sketch caches (util.keep_alive)
    return keep_alive(
        pairs.withColumn("hamming", F.col("hamming").cast("long")), pairs
    )


# ---- incremental dedup against a historical fingerprint store --------------
# Seen store = fingerprints of every doc with doc_id % 3 == 0 (the
# previously-accepted batches); the new batch is everything else.
_INCR_ORACLE = f"""
WITH seen AS (
    SELECT DISTINCT md5({NORM_SQL}) AS fp
    FROM documents WHERE doc_id % 3 = 0
), batch AS (
    SELECT doc_id, md5({NORM_SQL}) AS fp
    FROM documents WHERE doc_id % 3 <> 0
), unseen AS (
    SELECT b.* FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = b.fp)
)
SELECT doc_id FROM unseen
QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
"""


@register("dedup_incremental_docs", oracle=_INCR_ORACLE)
def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.dedup import (
        dedup_incremental,
        duplicate_groups,
    )

    docs = sf_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 3 == 0).transform(
        duplicate_groups("doc_id", "text")
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return batch.transform(
        dedup_incremental(seen, "doc_id", "text")
    ).select("doc_id")


@register("dedup_incremental_bloom_docs", oracle=_INCR_ORACLE)
def dedup_incremental_bloom_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-prefiltered incremental dedup. Shares the EXACT oracle of
    ``dedup_incremental_docs``: bloom filters have no false negatives
    and probable-positives verify with the same anti-join, so the
    bounded-memory path must reproduce the exact result bit-for-bit —
    which is precisely what this driver row checks."""
    from pywrangler_spark.operators.dedup import (
        dedup_incremental_bloom,
        duplicate_groups,
    )

    docs = sf_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 3 == 0).transform(
        duplicate_groups("doc_id", "text")
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return batch.transform(
        dedup_incremental_bloom(seen, "doc_id", "text", fpp=0.01)
    ).select("doc_id")


# ---- near-dup pairs by shared content-defined chunks -----------------------
# The dedup application of CDC chunking: boundary re-alignment after
# edits means near-identical docs share chunks outside the edit. The
# oracle re-derives the identical chunk set (same cut rule as
# chunk_docs_cdc), fingerprints chunks, applies the same >=2 /
# <=max_chunk_docs posting band and shared-chunk floor.

_CDC_NEARDUP_ORACLE = cdc_chunks_sql(16) + """, chunks AS (
    SELECT doc_id, chunk_index,
           string_agg(tok, ' ' ORDER BY pos) AS chunk,
           count(*) AS n_tokens
    FROM numbered
    GROUP BY doc_id, chunk_index
), postings AS (
    SELECT DISTINCT md5(chunk) AS fp, doc_id
    FROM chunks WHERE n_tokens >= 5
), live AS (
    SELECT fp, doc_id FROM postings
    QUALIFY count(*) OVER (PARTITION BY fp) BETWEEN 2 AND 100
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM live a JOIN live b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@register("dedup_cdc_chunks", oracle=_CDC_NEARDUP_ORACLE)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.dedup import cdc_chunk_neardup_pairs

    return sf_table(spark, sf_dir, "documents").transform(
        cdc_chunk_neardup_pairs(
            "doc_id",
            "text",
            avg_tokens=16,
            min_shared=2,
            min_chunk_tokens=5,
            max_chunk_docs=100,
        )
    )
