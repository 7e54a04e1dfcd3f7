"""The vocabulary the query modules share: the ANN query batch, and the
DuckDB oracle fragments more than one module renders.

Each fragment is the SQL twin of one Spark-side definition, written once
so two oracles cannot drift apart on it:

- ``NORM_SQL`` / ``TOKENS_SQL`` — ``functions.text.normalize_text`` /
  ``token_count``;
- ``md5_bits_sql`` / ``bucket_sql`` — the md5-derived integer hashes
  (``functions.hashing.hash56``, ``operators.sampling._bucket``);
- ``cdc_chunks_sql`` — the content-defined chunk cut rule
  (``operators.chunk.chunk_content_defined``);
- ``REACH_SQL`` — the transitive closure the connected-components
  oracles take ``MIN(lab)`` over (``operators.graph``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
TOKENS_SQL = (
    f"CASE WHEN {NORM_SQL} = '' THEN 0"
    f" ELSE len(string_split({NORM_SQL}, ' ')) END"
)


def query_gate(id_column: str) -> Column:
    """The fixed query batch of the ANN tiers and their recall gates: a
    no-op cap at driver scales that pins serving cost to batch x corpus
    at larger ones."""
    return (F.col(id_column) % 40 == 0) & (F.col(id_column) < 2000)


def query_gate_sql(id_column: str) -> str:
    """:func:`query_gate` as an oracle predicate."""
    return f"{id_column} % 40 = 0 AND {id_column} < 2000"


def md5_bits_sql(expr: str, hex_digits: int = 14) -> str:
    """The leading ``4 * hex_digits`` bits of ``md5(expr)`` as a BIGINT
    (14 digits = the 56-bit ``hash56``)."""
    return f"('0x' || substr(md5({expr}), 1, {hex_digits}))::BIGINT"


def seeded_hash_sql(seed) -> str:
    """hash56 of ``'<seed>:<doc_id>'`` — the seeded per-document hash."""
    return md5_bits_sql(f"'{seed}' || ':' || CAST(doc_id AS VARCHAR)")


def bucket_sql(seed) -> str:
    """The seeded document bucket in ``[0, 10000)``."""
    return f"{seeded_hash_sql(seed)} % 10000"


def cdc_chunks_sql(avg_tokens: int) -> str:
    """``WITH`` prefix ending in ``numbered(doc_id, tok, pos,
    chunk_index)``: every normalized token with its content-defined
    chunk. A chunk starts where ``(h[i-1]*31 + h[i]) % avg_tokens == 0``
    over the tokens' hash56 values."""
    return f"""
WITH w AS (
    SELECT doc_id, string_split({NORM_SQL}, ' ') AS ws,
           list_transform(
               string_split({NORM_SQL}, ' '),
               t -> {md5_bits_sql("t")}
           ) AS th
    FROM documents
    WHERE text IS NOT NULL AND {NORM_SQL} != ''
), toks AS (
    SELECT doc_id, ws, th, t.i AS pos
    FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)
), flagged AS (
    SELECT doc_id, ws[pos] AS tok, pos,
           CASE WHEN pos >= 2 AND
                     (th[pos - 1] * 31 + th[pos]) % {avg_tokens} = 0
                THEN 1 ELSE 0 END AS cut
    FROM toks
), numbered AS (
    SELECT doc_id, tok, pos,
           CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos)
                AS INT) AS chunk_index
    FROM flagged
)"""


# CTEs over a ``pairs(id_a, id_b)`` CTE (in a ``WITH RECURSIVE``): the
# undirected edge list ``e`` and its transitive closure ``reach(id,
# lab)``; ``MIN(lab)`` per id is the vertex's component
REACH_SQL = """e AS (
    SELECT id_a AS s, id_b AS d FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
), reach(id, lab) AS (
    SELECT s, s FROM e
    UNION
    SELECT e.d, r.lab FROM reach r JOIN e ON e.s = r.id
)"""
