"""URL canonicalization (SURVEY.md §2 O-8, O-16).

hiispider hashes raw request URLs for cache identity
[hs: hiispider/pagegetter.py (request hash) †] and derives hosts with
``urlparse(url).hostname`` [hs: hiispider/requestqueuer.py †]. We add an
explicit canonicalization pass (mandated by BASELINE.json:6 —
"canonicalization + 64-bit SipHash of URLs in vectorized Arrow UDFs")
so that trivially-distinct spellings of the same URL dedup to one
frontier entry:

- scheme and host lowercased
- default port stripped (``:80`` for http, ``:443`` for https)
- fragment stripped
- query parameters sorted by key (stable sort, preserves duplicates)
- empty path normalized to ``/``

Two implementations, semantically identical (tests enforce it):

1. :func:`canonicalize_url` — pure Python, the executable spec.
2. :func:`canonical_url_col` — pure Column-expression variant (JVM-side,
   WholeStageCodegen); used on the hot path and by oracle-checked
   queries.
"""

from __future__ import annotations

from functools import lru_cache
from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": 80, "https": 443}

# Plan-build memoization: these builders are called once per epoch with
# the same input column NAME, and each build costs hundreds of py4j
# round-trips of pure driver wall (canonical_url_col alone measured
# ~320 ms) — a per-epoch fixed constant that does not shrink with
# cores, i.e. exactly the scaling-efficiency residual. Column objects
# are immutable unresolved expression trees (they resolve by name per
# plan, never bind to a DataFrame or session), so one cached instance
# is safe to reuse across queries, epochs, sessions, and driver
# threads (lru_cache is thread-safe; the underlying JVM gateway lives
# for the Python process). Pass a plain string column name to hit the
# cache; Column inputs build fresh as before.


def canonicalize_url(url: str) -> str:
    """Canonicalize one URL. Pure function; the executable spec."""
    parts = urlsplit(url.strip())
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    netloc = host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    query = parts.query
    if query:
        # stable sort by key, duplicates preserved in original order
        pairs = [p for p in query.split("&") if p]
        pairs.sort(key=lambda kv: kv.split("=", 1)[0])
        query = "&".join(pairs)
    return urlunsplit((scheme, netloc, path, query, ""))


def _sorted_query_col(query: Column) -> Column:
    """Query string with params stable-sorted by key (duplicates keep
    their original relative order — exactly the pure-Python spec's
    ``list.sort(key=...)`` semantics, reproduced with an index-decorated
    ``array_sort`` comparator). Pure Column expressions, JVM-side."""
    pairs = F.filter(F.split(query, "&"), lambda p: p != "")
    decorated = F.transform(
        pairs,
        lambda p, i: F.struct(
            F.split(p, "=", 2)[0].alias("k"), i.alias("i"), p.alias("p")
        ),
    )

    def cmp(a, b):
        return (
            F.when(a["k"] < b["k"], F.lit(-1))
            .when(a["k"] > b["k"], F.lit(1))
            # equal keys: original index — a STABLE sort by key
            .when(a["i"] < b["i"], F.lit(-1))
            .when(a["i"] > b["i"], F.lit(1))
            .otherwise(F.lit(0))
        )

    return F.array_join(
        F.transform(F.array_sort(decorated, cmp), lambda s: s["p"]), "&"
    )


def canonical_url_col(url: Column | str) -> Column:
    """Column-expression canonicalization (JVM-side, codegen'd).

    Covers the full spec: fragment strip, scheme+host lowercase,
    :80/:443 strip, empty-path → "/", and query params stable-sorted by
    key — so the HOT PATH (frontier identity, link merge) collapses
    query-permuted spellings exactly like :func:`canonicalize_url`.
    test_canon cross-checks it against the Python spec, including query
    URLs.
    (The DuckDB oracle twin omits query sorting — the synthetic corpus
    carries no query strings, so the twin stays byte-equivalent there.)

    A string argument returns a memoized tree (see module notes) —
    the per-epoch hot path passes names.
    """
    if isinstance(url, str):
        return _canonical_url_named(url)
    return _canonical_url_build(url)


@lru_cache(maxsize=128)
def _canonical_url_named(name: str) -> Column:
    return _canonical_url_build(F.col(name))


def _canonical_url_build(url: Column) -> Column:
    u = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    rest = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    hostport = F.when(
        (scheme == F.lit("http")) & hostport.endswith(":80"),
        F.substring(hostport, 1, F.length(hostport) - 3),
    ).when(
        (scheme == F.lit("https")) & hostport.endswith(":443"),
        F.substring(hostport, 1, F.length(hostport) - 4),
    ).otherwise(hostport)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # gate the query-sort chain on '?' presence: CaseWhen evaluates
    # branches lazily per row, so query-less URLs (the overwhelming
    # majority of crawl links) skip the interpreted HOF chain (split →
    # filter → transform → array_sort-with-comparator → array_join)
    # entirely instead of running it against an empty string. URLs with
    # a query still take the full stable-sort path — byte-identical
    # output for every input (test_canon covers both).
    sorted_q = _sorted_query_col(F.regexp_extract(rest, r"\?(.*)$", 1))
    tail = F.when(
        ~rest.contains("?"), F.lit("")
    ).when(
        sorted_q == "", F.lit("")  # only empty '&' pairs
    ).otherwise(F.concat(F.lit("?"), sorted_q))
    return F.concat(scheme, F.lit("://"), hostport, path, tail)


def host_col(url: Column | str) -> Column:
    """Host of a URL — JVM-side ``try_parse_url`` (O-16), lowercased.

    The ``try_`` variant is load-bearing: crawled pages carry garbage
    hrefs (``mailto:``, ``javascript:``, bare fragments) and Spark 4's
    ``parse_url`` RAISES on them under ANSI — one malformed link must
    cost NULL, not the epoch (found by test_scope's unguarded-epoch
    drive). String argument → memoized tree (module notes)."""
    if isinstance(url, str):
        return _host_named(url)
    return F.lower(F.try_parse_url(url, F.lit("HOST")))


@lru_cache(maxsize=128)
def _host_named(name: str) -> Column:
    return F.lower(F.try_parse_url(F.col(name), F.lit("HOST")))


def path_col(url: Column | str) -> Column:
    """Path of a URL (for robots prefix matching), '' → '/'.
    ``try_parse_url``: total over malformed inputs (see host_col).
    String argument → memoized tree (module notes)."""
    if isinstance(url, str):
        return _path_named(url)
    return _path_build(url)


@lru_cache(maxsize=128)
def _path_named(name: str) -> Column:
    return _path_build(F.col(name))


def _path_build(url: Column) -> Column:
    p = F.try_parse_url(url, F.lit("PATH"))
    return F.when(p.isNull() | (p == ""), F.lit("/")).otherwise(p)


def idn_to_ascii(host: str) -> str:
    """IDNA/punycode-encode one hostname (per-label, stdlib codec —
    IDNA 2003, the interoperable subset); ASCII labels pass through
    unchanged, labels the codec rejects pass through verbatim (a
    crawler must never lose a URL to normalization)."""
    out = []
    for label in host.split("."):
        if label.isascii():
            out.append(label.lower())
            continue
        try:
            out.append(label.encode("idna").decode("ascii"))
        except UnicodeError:
            out.append(label.lower())
    return ".".join(out)


def idn_url_to_ascii(url: str) -> str:
    """Rewrite a URL's host through :func:`idn_to_ascii`; non-URL
    strings and ASCII hosts return unchanged."""
    from urllib.parse import urlsplit, urlunsplit

    # everything touching the parse result stays inside the try:
    # urlsplit defers port validation to the .port property, so e.g.
    # http://例え.jp:99999/x raises ValueError only on access — and a
    # crawler must never lose a URL to normalization
    try:
        parts = urlsplit(url)
        host = parts.hostname
        if not host or host.isascii():
            return url
        # rebuild netloc from components: urlsplit lowercases
        # .hostname, so substring replacement would miss an
        # uppercase-unicode original
        netloc = idn_to_ascii(host)
        if parts.port is not None:
            netloc = f"{netloc}:{parts.port}"
        if "@" in parts.netloc:
            netloc = parts.netloc.rsplit("@", 1)[0] + "@" + netloc
        return urlunsplit(
            (parts.scheme, netloc, parts.path, parts.query, parts.fragment)
        )
    except ValueError:
        return url


@F.pandas_udf(T.StringType())
def idn_url_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched IDN host normalization — run at INGESTION (seed
    load / discovered-link intake) before canonicalization, so unicode
    and punycode spellings of one host share a frontier identity. Not
    in the per-epoch hot path: hosts are overwhelmingly ASCII, and the
    JVM canonicalization there must stay Python-free; the fast
    ``isascii`` bail-out makes the ingestion pass near-free."""
    return urls.map(idn_url_to_ascii)
