"""Sitemap ingestion: sitemaps.org XML → URL entries with revisit hints.

Sitemaps are the polite crawler's discovery channel (the reference
discovers URLs only through its job table and page links [hs:
hiispider/spider.py †]; any production deployment also consumes
``/sitemap.xml``). The parse reads ``<urlset>`` documents of the
sitemaps.org 0.9 schema: ``<url>`` entries with required ``<loc>`` and
optional ``<lastmod>`` / ``<changefreq>`` / ``<priority>``. Index
documents (``<sitemapindex>``) and gzipped bodies are not handled: the
caller passes decompressed leaf documents.

Parsing is deliberately NOT an XML-library pass: sitemap documents are
machine-generated, flat, and enormous in aggregate (50k URLs × 10k+
files per large host), so the parse stays entirely in JVM Column
expressions — ``regexp_extract_all`` over the decoded body, explode,
per-field ``regexp_extract`` — zero Python in the hot path, one narrow
projection per stage, and whole-stage codegen end to end. Entity
unescaping covers the five predefined XML entities the spec requires
sitemap producers to escape.

Scale shape: one sitemap body is ≤50 MB decoded (spec cap); bodies
arrive via ``binaryFile``, one file per task — the explode multiplies
rows ~50k× but each output row is a short string tuple, so partition
sizing follows the INPUT file count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: sitemaps.org <changefreq> → revisit-interval hint (seconds). These
#: are HINTS seeding recrawl.py's adaptive estimator (which then
#: learns the true rate); "always"/"never" map to the estimator's
#: clamp bounds.
CHANGEFREQ_INTERVAL_S = {
    "always": 60.0,
    "hourly": 3600.0,
    "daily": 86400.0,
    "weekly": 604800.0,
    "monthly": 2592000.0,
    "yearly": 31536000.0,
    "never": 31536000.0,
}


def _unescape_xml(c: Column) -> Column:
    # the five predefined entities; &amp; LAST so '&amp;lt;' does not
    # double-decode
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _tag(entry: Column, tag: str) -> Column:
    v = F.regexp_extract(entry, f"(?s)<{tag}>\\s*(.*?)\\s*</{tag}>", 1)
    return F.nullif(v, F.lit(""))


def parse_sitemaps(
    docs: DataFrame, url_col: str = "url", body_col: str = "body"
) -> DataFrame:
    """``(sitemap_url, url, lastmod, changefreq, priority)`` — one row
    per ``<url>`` entry across all ``<urlset>`` documents. ``body`` is
    the raw (already-decompressed) XML bytes. Entries without a
    ``<loc>`` are skipped per spec; ``lastmod`` accepts both W3C
    datetime and date-only forms; absent ``priority`` defaults to the
    spec's 0.5."""
    entry = F.col("__entry")
    return (
        docs.select(
            F.col(url_col).alias("sitemap_url"),
            F.explode(
                F.regexp_extract_all(
                    F.decode(F.col(body_col), "UTF-8"),
                    F.lit("(?s)<url>(.*?)</url>"),
                    F.lit(1),
                )
            ).alias("__entry"),
        )
        .select(
            "sitemap_url",
            _unescape_xml(_tag(entry, "loc")).alias("url"),
            _tag(entry, "lastmod").alias("__lm"),
            _tag(entry, "changefreq").alias("changefreq"),
            _tag(entry, "priority").alias("__pr"),
        )
        .select(
            "sitemap_url",
            "url",
            F.coalesce(
                F.expr("try_to_timestamp(__lm)"),
                F.expr("try_to_timestamp(__lm, 'yyyy-MM-dd')"),
            ).alias("lastmod"),
            "changefreq",
            F.coalesce(
                F.expr("try_cast(__pr as double)"), F.lit(0.5)
            ).alias("priority"),
        )
        .filter(F.col("url").isNotNull())
    )


def with_interval_hint(entries: DataFrame) -> DataFrame:
    """Append ``interval_hint_s`` mapped from ``changefreq`` (NULL when
    absent) — the seed for recrawl.py's adaptive estimator."""
    mapping = F.create_map(
        *[F.lit(x) for kv in CHANGEFREQ_INTERVAL_S.items() for x in kv]
    )
    return entries.withColumn(
        "interval_hint_s", mapping[F.col("changefreq")]
    )
