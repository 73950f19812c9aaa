"""Sitemap ingestion (sources/sitemap.py)."""

from datetime import datetime

from hiispider_spark.sources import sitemap as sm

URLSET = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>http://a.example.org/p/1?x=1&amp;y=2</loc>
    <lastmod>2024-01-05T10:30:00Z</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc> http://a.example.org/p/2 </loc><lastmod>2024-02-01</lastmod></url>
  <url><changefreq>hourly</changefreq></url>
  <url><loc>http://a.example.org/p/3</loc><priority>bogus</priority></url>
</urlset>"""


def _docs(spark, rows):
    return spark.createDataFrame(rows, "url string, body binary")


def test_parse_urlset_fields(spark):
    docs = _docs(spark, [("http://a.example.org/sitemap.xml", URLSET)])
    rows = {r.url: r for r in sm.parse_sitemaps(docs).collect()}
    # entry without <loc> skipped
    assert set(rows) == {
        "http://a.example.org/p/1?x=1&y=2",  # entity-unescaped
        "http://a.example.org/p/2",  # whitespace-trimmed loc
        "http://a.example.org/p/3",
    }
    full = rows["http://a.example.org/p/1?x=1&y=2"]
    assert full.lastmod == datetime(2024, 1, 5, 10, 30)
    assert full.changefreq == "daily" and full.priority == 0.8
    dateonly = rows["http://a.example.org/p/2"]
    assert dateonly.lastmod == datetime(2024, 2, 1)
    assert dateonly.changefreq is None and dateonly.priority == 0.5
    assert rows["http://a.example.org/p/3"].priority == 0.5  # bogus → default


def test_interval_hint_and_seeds(spark):
    """changefreq maps to the interval hint that seeds recrawl.py's
    adaptive estimator; an absent changefreq gives no hint."""
    docs = _docs(spark, [("http://a.example.org/sitemap.xml", URLSET)])
    hinted = sm.with_interval_hint(sm.parse_sitemaps(docs))
    hints = {r.url: r.interval_hint_s for r in hinted.collect()}
    assert hints["http://a.example.org/p/1?x=1&y=2"] == 86400.0
    assert hints["http://a.example.org/p/2"] is None
