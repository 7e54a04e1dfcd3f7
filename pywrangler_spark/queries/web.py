"""Web-hygiene queries: HTML-to-text extraction and URL provenance.

The documents table carries plain text and synthetic sources, so both
queries synthesize their web-shaped inputs DETERMINISTICALLY from
doc_id (the redact-query recipe): the Spark side and the DuckDB oracle
build the identical HTML wrapper / URL string, then both run the same
step-table algorithm (``functions.web``), so the comparison exercises
the real cleaning chain end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywrangler_spark.functions.web import (
    canonicalize_url,
    canonicalize_url_sql,
    registrable_domain,
    registrable_domain_sql,
    strip_html,
    strip_html_sql,
    url_host,
    url_host_sql,
)
from pywrangler_spark.queries import register
from pywrangler_spark.sources import sf_table


# ---- HTML -> text ----------------------------------------------------------
# Wrap each document's text in deterministic markup covering every step
# of the chain: a style block, a script block, a comment, heading/para
# tags, and entities (incl. the &amp;lt; double-encoding trap).

_HTML_WRAP_SQL = (
    "'<html><head><style>p {color: red}</style>"
    "<script type=\"text/javascript\">var x = 1 < 2;</script></head>'"
    " || '<body><!-- id ' || doc_id || ' --><h1>Doc &#39;' || doc_id"
    " || '&#39;</h1><p>' || text || '</p>"
    "<p>&quot;tail&quot; &amp;lt;entity&gt; &nbsp;end</p></body></html>'"
)

_WEBCLEAN_ORACLE = f"""
SELECT doc_id, {strip_html_sql(_HTML_WRAP_SQL)} AS clean_text
FROM documents
WHERE text IS NOT NULL
"""


@register("webclean_docs", oracle=_WEBCLEAN_ORACLE)
def webclean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    html = F.concat(
        F.lit(
            '<html><head><style>p {color: red}</style>'
            '<script type="text/javascript">var x = 1 < 2;</script>'
            "</head><body><!-- id "
        ),
        F.col("doc_id"),
        F.lit(" --><h1>Doc &#39;"),
        F.col("doc_id"),
        F.lit("&#39;</h1><p>"),
        F.col("text"),
        F.lit(
            "</p><p>&quot;tail&quot; &amp;lt;entity&gt; &nbsp;end"
            "</p></body></html>"
        ),
    )
    return docs.select(
        "doc_id", strip_html(html).alias("clean_text")
    )


# ---- URL canonicalization + registrable domains ---------------------------
# Four URL shapes per corpus: uppercase scheme + default port + utm
# debris, a multi-part-TLD host with a fragment, a non-default port
# with mixed-case host, and a bare host with tracking-only query. The
# query canonicalizes, extracts host + registrable domain, and
# aggregates docs per domain — the per-domain provenance rollup a
# crawl pipeline feeds into caps and mixing.

_URL_SQL = (
    "CASE doc_id % 4"
    " WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/a/' || doc_id"
    "   || '?utm_source=feed&id=' || doc_id % 7 || '&utm_medium=rss'"
    " WHEN 1 THEN 'http://news.sample.co.uk/story/' || doc_id"
    "   || '?id=' || doc_id % 5 || '#frag'"
    " WHEN 2 THEN 'https://Blog.Example.ORG:8443/p?gclid=xyz'"
    " ELSE 'http://cdn.example.net:80/img/' || doc_id || '?fbclid=abc'"
    " END"
)

_URL_DOMAINS_ORACLE = f"""
WITH u AS (
    SELECT doc_id, {canonicalize_url_sql(_URL_SQL)} AS canonical_url
    FROM documents
), h AS (
    SELECT doc_id, canonical_url,
           {url_host_sql('canonical_url')} AS host
    FROM u
)
SELECT {registrable_domain_sql('host')} AS domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_urls,
       min(canonical_url) AS sample_url
FROM h
GROUP BY 1
"""


@register("url_canonical_domains", oracle=_URL_DOMAINS_ORACLE)
def url_canonical_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example.COM:443/a/"),
                F.col("doc_id"),
                F.lit("?utm_source=feed&id="),
                F.col("doc_id") % 7,
                F.lit("&utm_medium=rss"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://news.sample.co.uk/story/"),
                F.col("doc_id"),
                F.lit("?id="),
                F.col("doc_id") % 5,
                F.lit("#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.lit("https://Blog.Example.ORG:8443/p?gclid=xyz"),
        )
        .otherwise(
            F.concat(
                F.lit("http://cdn.example.net:80/img/"),
                F.col("doc_id"),
                F.lit("?fbclid=abc"),
            )
        )
    )
    canon = docs.select(
        "doc_id", canonicalize_url(url).alias("canonical_url")
    )
    hosts = canon.select(
        "doc_id",
        "canonical_url",
        url_host(F.col("canonical_url")).alias("host"),
    )
    return hosts.groupBy(
        registrable_domain(F.col("host")).alias("domain")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("canonical_url").alias("n_urls"),
        F.min("canonical_url").alias("sample_url"),
    )
