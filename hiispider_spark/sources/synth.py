"""Deterministic Common-Crawl-style corpus synthesizer (FIXTURES.md §2).

No external data exists in the sandbox, so the ``pages`` table (the
BASELINE.json:15 input hint: url, warc_ts, html:binary, text, lang) is
synthesized as a **pure function of the driver-provided tables**
(`documents` supplies text/lang; `lineitem`'s row count sets the page
count so the corpus scales with sf). Everything is a closed-form
function of the row index ``i`` — no wall clock, no unseeded RNG — so
golden ordering/membership fixtures are stable across runs AND across
parallelism levels, and the exact same rules are expressible as DuckDB
SQL for the driver oracle (:func:`oracle_ctes`).

Synthesis rules (seed constants baked in, FIXTURES.md):

- ``n_pages``  = count(lineitem); ``n_docs`` = count(documents)
- ``n_hosts``  = max(10, n_pages // 400)
- ``host_id(i)`` = 0 if i%10 < 3 else i % n_hosts   (host 0 ≈ 30% of
  URLs — the hot-domain skew that salting must break)
- ``url(i)``   = http://h{host_id:04d}.example.org/p/{i}
- links: page i links to pages (7i+1) % n and (13i+2) % n — a dense
  deterministic crawl graph for frontier-expansion tests
- ``text(i)``  = documents.text[i % n_docs] + " #i" (per-row unique)
- ``html(i)``  = <html><body><a href=l1><a href=l2> text </body></html>
  (UTF-8 bytes; extraction must recover ``text`` byte-identically)
- ``warc_ts(i)`` = 2024-01-01T00:00:00Z + (37i mod 86400) s
- seeds: every 10th page, priority 1.0 + ((i/10) % 10)/10; plus
  non-canonical variants (UPPERCASE host, :80, #frag) of every 100th
  page to exercise canonicalization/dedup
- robots: hosts with host_id % 7 == 0 disallow the path prefix
  ``/p/1``; crawl_delay = 0.5 + (host_id % 4) * 0.5 seconds
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH0 = "2024-01-01 00:00:00"
EPOCH0_UNIX = 1704067200

# Politeness: each epoch grants floor(EPOCH_SECONDS / crawl_delay)
# fetches per host (the reference's max_requests_per_host_per_second
# re-expressed as a per-epoch budget [hs: hiispider/requestqueuer.py †]).
EPOCH_SECONDS = 60.0


@dataclass(frozen=True)
class SynthConfig:
    n_pages: int
    n_docs: int

    @property
    def n_hosts(self) -> int:
        return max(10, self.n_pages // 400)

    @classmethod
    def from_sf_dir(cls, spark: SparkSession, sf_dir: str) -> "SynthConfig":
        n_pages = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        return cls(n_pages=n_pages, n_docs=n_docs)


def _host_id(i: Column, n_hosts: int) -> Column:
    return F.when(i % 10 < 3, F.lit(0)).otherwise((i % n_hosts).cast("int"))


def _url(i: Column, n_hosts: int) -> Column:
    return F.format_string(
        "http://h%04d.example.org/p/%d", _host_id(i, n_hosts), i
    )


def synth_pages_narrow(
    spark: SparkSession, sf_dir: str, cfg: SynthConfig | None = None
) -> DataFrame:
    """Pages WITHOUT the heavy payload projections —
    (i, url, warc_ts, doc_text, lang). The html/text expressions (the
    per-row cost of the pages table) are added by
    :func:`attach_page_payload`; ``synth_pages`` composes the two. A
    consumer that joins pages down to a small slice can join THIS frame
    and attach the payload after — the guide-§8 "decide with small
    rows, build heavy bytes once" shape — instead of synthesizing html
    for every corpus row and discarding the misses."""
    cfg = cfg or SynthConfig.from_sf_dir(spark, sf_dir)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.col("text").alias("doc_text"), "lang")
    )
    i = F.col("i")
    n = cfg.n_pages
    # keep per-partition byte footprint bounded (~50k wide rows/task):
    # 32 tasks × multi-hundred-MB partitions of html would GC-thrash
    n_parts = max(int(spark.sparkContext.defaultParallelism), n // 50_000)
    base = (
        spark.range(0, n, 1, n_parts)
        .toDF("i")
        .withColumn("doc_id", (i % cfg.n_docs).cast("long"))
    )
    # documents is tiny (500–5000 rows) → broadcast hash join, no shuffle
    df = base.join(F.broadcast(docs), "doc_id")
    return df.select(
        i.alias("i"),
        _url(i, cfg.n_hosts).alias("url"),
        F.timestamp_seconds(F.lit(EPOCH0_UNIX) + (i * 37) % 86400).alias(
            "warc_ts"
        ),
        F.col("doc_text"),
        F.col("lang"),
    )


def attach_page_payload(df: DataFrame, cfg: SynthConfig) -> DataFrame:
    """Add the html/text payload columns to a (subset of the) narrow
    pages frame. Pure projection over the carried (i, doc_text)
    columns — same expressions as the one-shot ``synth_pages``, so
    attach(narrow) ≡ synth_pages row for row. Extra columns on ``df``
    (e.g. a joined frontier slice's) pass through untouched;
    ``doc_text`` is consumed."""
    i = F.col("i")
    n = cfg.n_pages
    text = F.format_string("%s #%d", F.col("doc_text"), i)
    j1, j2 = (i * 7 + 1) % n, (i * 13 + 2) % n
    html_s = F.format_string(
        '<html><body><a href="%s"><a href="%s">%s</body></html>',
        _url(j1, cfg.n_hosts),
        _url(j2, cfg.n_hosts),
        text,
    )
    keep = [c for c in df.columns if c not in ("doc_text", "lang")]
    return df.select(
        *keep,
        F.encode(html_s, "UTF-8").alias("html"),
        text.alias("text"),
        F.col("lang"),
    )


def synth_pages(
    spark: SparkSession, sf_dir: str, cfg: SynthConfig | None = None
) -> DataFrame:
    """The ``pages`` table — (url, warc_ts, html:binary, text, lang)."""
    cfg = cfg or SynthConfig.from_sf_dir(spark, sf_dir)
    return attach_page_payload(synth_pages_narrow(spark, sf_dir, cfg), cfg)


def synth_seeds(
    spark: SparkSession, sf_dir: str, cfg: SynthConfig | None = None
) -> DataFrame:
    """Seed list: every 10th URL + non-canonical duplicates (FIXTURES.md)."""
    cfg = cfg or SynthConfig.from_sf_dir(spark, sf_dir)
    i = F.col("i")
    idx = spark.range(cfg.n_pages).toDF("i")
    # i%10==3 seeds spread across all hosts; i%25==0 seeds hit the hot
    # host too (i%10<3 ⊂ that set) so politeness sees both regimes
    spread = idx.filter(i % 10 == 3).select(
        _url(i, cfg.n_hosts).alias("url"),
        (1.0 + (F.expr("i div 10") % 10) / 10.0).alias("priority"),
    )
    hot = idx.filter(i % 25 == 0).select(
        _url(i, cfg.n_hosts).alias("url"), F.lit(1.5).alias("priority")
    )
    canon = spread.unionByName(hot)
    variants = idx.filter(i % 100 == 0).select(
        F.format_string(
            "HTTP://H%04d.EXAMPLE.ORG:80/p/%d#frag", _host_id(i, cfg.n_hosts), i
        ).alias("url"),
        F.lit(0.5).alias("priority"),
    )
    return canon.unionByName(variants)


def synth_robots(
    spark: SparkSession, sf_dir: str, cfg: SynthConfig | None = None
) -> DataFrame:
    """robots.txt rules per host: array<struct<allow,prefix>> + crawl_delay."""
    cfg = cfg or SynthConfig.from_sf_dir(spark, sf_dir)
    h = F.col("h")
    rules = F.when(
        h % 7 == 0,
        F.array(
            F.struct(
                F.lit(False).alias("allow"), F.lit("/p/1").alias("prefix")
            ),
            F.struct(F.lit(True).alias("allow"), F.lit("/").alias("prefix")),
        ),
    ).otherwise(
        F.array(F.struct(F.lit(True).alias("allow"), F.lit("/").alias("prefix")))
    )
    return (
        spark.range(cfg.n_hosts)
        .toDF("h")
        .select(
            F.format_string("h%04d.example.org", h.cast("int")).alias("host"),
            rules.alias("rules"),
            (0.5 + (h % 4) * 0.5).alias("crawl_delay"),
        )
    )


def oracle_ctes() -> str:
    """DuckDB CTEs replicating the synthesis rules above, byte for byte.

    Defines ``pages_o(i, url, host, warc_ts, html_s, text, lang)``,
    ``seeds_o(url, priority)`` and ``robots_o(host, disallow_prefix,
    crawl_delay)`` over the driver's pre-registered ``lineitem`` /
    ``documents`` views. Prepend to any oracle query as
    ``WITH <ctes> SELECT ...``.
    """
    return f"""
  par AS (
    SELECT (SELECT count(*) FROM lineitem) AS n_pages,
           (SELECT count(*) FROM documents) AS n_docs,
           greatest(10, (SELECT count(*) FROM lineitem) // 400) AS n_hosts
  ),
  idx AS (
    SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS i,
           n_pages, n_docs, n_hosts
    FROM lineitem, par
  ),
  pages_o AS (
    SELECT i,
      printf('http://h%04d.example.org/p/%d',
             CASE WHEN i % 10 < 3 THEN 0 ELSE CAST(i % n_hosts AS INT) END, i) AS url,
      printf('h%04d.example.org',
             CASE WHEN i % 10 < 3 THEN 0 ELSE CAST(i % n_hosts AS INT) END) AS host,
      TIMESTAMP '{EPOCH0}' + ((i * 37) % 86400) * INTERVAL 1 SECOND AS warc_ts,
      printf('<html><body><a href="%s"><a href="%s">%s</body></html>',
        printf('http://h%04d.example.org/p/%d',
               CASE WHEN ((i*7+1) % n_pages) % 10 < 3 THEN 0
                    ELSE CAST(((i*7+1) % n_pages) % n_hosts AS INT) END,
               (i*7+1) % n_pages),
        printf('http://h%04d.example.org/p/%d',
               CASE WHEN ((i*13+2) % n_pages) % 10 < 3 THEN 0
                    ELSE CAST(((i*13+2) % n_pages) % n_hosts AS INT) END,
               (i*13+2) % n_pages),
        printf('%s #%d', d.text, i)) AS html_s,
      printf('%s #%d', d.text, i) AS text,
      d.lang AS lang
    FROM idx JOIN documents d ON d.doc_id = i % n_docs
  ),
  seeds_o AS (
    SELECT printf('http://h%04d.example.org/p/%d',
                  CASE WHEN i % 10 < 3 THEN 0 ELSE CAST(i % n_hosts AS INT) END, i) AS url,
           1.0 + ((i // 10) % 10) / 10.0 AS priority
    FROM idx WHERE i % 10 = 3
    UNION ALL
    SELECT printf('http://h%04d.example.org/p/%d',
                  CASE WHEN i % 10 < 3 THEN 0 ELSE CAST(i % n_hosts AS INT) END, i) AS url,
           1.5 AS priority
    FROM idx WHERE i % 25 = 0
    UNION ALL
    SELECT printf('HTTP://H%04d.EXAMPLE.ORG:80/p/%d#frag',
                  CASE WHEN i % 10 < 3 THEN 0 ELSE CAST(i % n_hosts AS INT) END, i) AS url,
           0.5 AS priority
    FROM idx WHERE i % 100 = 0
  ),
  robots_o AS (
    SELECT printf('h%04d.example.org', CAST(i AS INT)) AS host,
           CASE WHEN i % 7 = 0 THEN '/p/1' ELSE NULL END AS disallow_prefix,
           0.5 + (i % 4) * 0.5 AS crawl_delay
    FROM idx WHERE i < n_hosts
  )"""
