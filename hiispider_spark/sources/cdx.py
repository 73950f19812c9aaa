"""CDX(J) index ingestion: Common-Crawl-style capture indexes → pages
metadata / frontier seeds.

A web-archive deployment rarely scans WARC bytes to answer "what do we
have for this URL" — it queries the capture INDEX. The CDXJ line
format (pywb / Common Crawl index, publicly documented at
https://pywb.readthedocs.io/en/latest/manual/indexing.html and the
commoncrawl.org index docs) is:

    <searchable url key> <14-digit timestamp> <JSON block>

e.g.::

    org,example)/path 20240101000000 {"url": "http://example.org/path",
      "status": "200", "mime": "text/html", "digest": "sha1:...",
      "length": "2537", "offset": "6683", "filename": "....warc.gz"}

(the reference has no index consumption at all — its job table is the
only discovery input [hs: hiispider/schedulerserver.py †]; at
10^10-URL scale the index IS the job table's bootstrap.)

Parse shape: CDXJ is line-oriented text — ``spark.read.text`` splits
by line for free, so the parse is two JVM substring finds (first two
space-delimited fields) plus one ``from_json`` over the remainder.
Zero Python, whole-stage codegen, and the JSON schema projects ONLY
the requested fields (Jackson skips the rest) — the 100 TB shape,
since Common Crawl's full index is ~TBs of CDXJ per crawl.

Legacy 11-field space-separated CDX ("classic" format, header line
`` CDX N b a m s k r M S V g``) is read by :func:`read_cdx_classic`
with positional columns — some self-hosted archives still emit it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: JSON fields a CDXJ block carries (all strings in the wire format —
#: numeric casts happen in the parse so downstream gets typed columns)
CDXJ_JSON_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("digest", T.StringType()),
        T.StructField("length", T.StringType()),
        T.StructField("offset", T.StringType()),
        T.StructField("filename", T.StringType()),
        T.StructField("redirect", T.StringType()),
        T.StructField("languages", T.StringType()),
    ]
)


def _ts14_to_timestamp(c: Column) -> Column:
    """14-digit CDX timestamp (yyyyMMddHHmmss, UTC by spec) → TIMESTAMP;
    malformed stamps yield NULL (an index line must never kill a task)."""
    return F.try_to_timestamp(c, F.lit("yyyyMMddHHmmss"))


def read_cdxj(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """CDXJ text lines → typed capture rows.

    Output: (urlkey, warc_ts, url, http_status, mime, digest,
    warc_length, warc_offset, warc_file, redirect). Comment/blank/
    malformed lines (no JSON block, bad timestamp) parse to NULL
    fields and are dropped only when even the url is missing — the
    crawler contract: never lose a capture to normalization.
    """
    line = F.trim(F.col(text_col))
    # first two space-delimited fields; the JSON block may itself
    # contain spaces, so split with a limit instead of tokenizing
    parts = F.split(line, " ", 3)
    # F.get, not getItem: under ANSI mode (Spark 4 default) an
    # out-of-bounds index THROWS — a blank/short line must yield NULLs,
    # never a dead task
    urlkey = F.get(parts, 0)
    ts = F.get(parts, 1)
    blob = F.get(parts, 2)
    j = F.from_json(blob, CDXJ_JSON_SCHEMA)
    out = lines.select(
        urlkey.alias("urlkey"),
        _ts14_to_timestamp(ts).alias("warc_ts"),
        j["url"].alias("url"),
        j["status"].try_cast("int").alias("http_status"),
        j["mime"].alias("mime"),
        j["digest"].alias("digest"),
        j["length"].try_cast("long").alias("warc_length"),
        j["offset"].try_cast("long").alias("warc_offset"),
        j["filename"].alias("warc_file"),
        j["redirect"].alias("redirect"),
    )
    return out.filter(F.col("url").isNotNull())


#: classic 11-field CDX column letters ``N b a m s k r M S V g`` per
#: the IA CDX spec (https://archive.org/web/researcher/cdx_file_format.php)
_CLASSIC_FIELDS = (
    ("urlkey", "string"),
    ("_ts14", "string"),
    ("url", "string"),
    ("mime", "string"),
    ("_status", "string"),
    ("digest", "string"),
    ("redirect", "string"),
    ("_meta", "string"),
    ("_length", "string"),
    ("_offset", "string"),
    ("warc_file", "string"),
)


def read_cdx_classic(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """Legacy space-separated 11-field CDX → the same typed rows as
    :func:`read_cdxj`. Header lines (starting ``' CDX'``) and short
    lines drop; ``-`` is the format's NULL sentinel."""
    line = F.trim(F.col(text_col))
    parts = F.split(line, " ")
    nulled = {}
    for i, (name, _typ) in enumerate(_CLASSIC_FIELDS):
        c = F.get(parts, i)  # NULL (not ANSI throw) past a short line
        nulled[name] = F.when(c == "-", F.lit(None)).otherwise(c)
    out = lines.filter(
        ~F.startswith(line, F.lit("CDX ")) & (F.size(parts) >= 11)
    ).select(
        nulled["urlkey"].alias("urlkey"),
        _ts14_to_timestamp(nulled["_ts14"]).alias("warc_ts"),
        nulled["url"].alias("url"),
        nulled["_status"].try_cast("int").alias("http_status"),
        nulled["mime"].alias("mime"),
        nulled["digest"].alias("digest"),
        nulled["_length"].try_cast("long").alias("warc_length"),
        nulled["_offset"].try_cast("long").alias("warc_offset"),
        nulled["warc_file"].alias("warc_file"),
        nulled["redirect"].alias("redirect"),
    )
    return out.filter(F.col("url").isNotNull())


def latest_captures(captures: DataFrame) -> DataFrame:
    """Latest capture per url (warc_ts desc; file/offset tie-break for
    determinism) — windowed top-1 (WindowGroupLimit: per-partition
    partial top-1 before the shuffle, never a global sort)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(),
        F.col("warc_file").desc_nulls_last(),
        F.col("warc_offset").desc_nulls_last(),
    )
    return (
        captures.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cdx_seeds(
    captures: DataFrame,
    mime_allow: tuple[str, ...] = ("text/html",),
    ok_only: bool = True,
) -> DataFrame:
    """Capture rows → bootstrap seed list (url, priority): the index-
    driven frontier bootstrap. Priority favors RECENT captures (the
    staleness-first heuristic a recrawl bootstrap wants): priority =
    days since 2020-01-01 of the latest capture, scaled to [0, 1] by
    a 10-year horizon, clamped. Status/mime filters drop the capture
    noise (robots.txt fetches, 404s, media) BEFORE the dedup shuffle.
    """
    c = captures
    if ok_only:
        c = c.filter(F.col("http_status") == 200)
    if mime_allow:
        c = c.filter(F.col("mime").isin(list(mime_allow)))
    latest = latest_captures(c)
    age_days = (
        F.unix_timestamp("warc_ts")
        - F.unix_timestamp(F.lit("2020-01-01 00:00:00").cast("timestamp"))
    ) / 86400.0
    pri = F.round(age_days / 3650.0, 6)
    # a capture whose timestamp failed to parse (warc_ts NULL — see
    # _ts14_to_timestamp) must still seed: "never lose a URL". Unknown
    # capture age is treated as oldest (priority 0.0). Spark's
    # greatest() skips NULLs so the clamp alone would land there too,
    # but that's an engine-specific NULL rule — the coalesce makes the
    # contract explicit and engine-portable.
    return latest.select(
        "url",
        F.coalesce(
            F.least(F.greatest(pri, F.lit(0.0)), F.lit(1.0)), F.lit(0.0)
        ).alias("priority"),
    )
