"""URL canonicalization — table-driven spec + Column/Python equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hiispider_spark.functions.canon import (
    canonical_url_col,
    canonicalize_url,
)

CASES = [
    ("http://Example.ORG/p/1", "http://example.org/p/1"),
    ("HTTP://EXAMPLE.ORG/p/1", "http://example.org/p/1"),
    ("http://example.org:80/p/1", "http://example.org/p/1"),
    ("https://example.org:443/a", "https://example.org/a"),
    ("https://example.org:8443/a", "https://example.org:8443/a"),
    ("http://example.org:8080/x", "http://example.org:8080/x"),
    ("http://example.org/p/1#frag", "http://example.org/p/1"),
    ("http://example.org/p/1#a#b", "http://example.org/p/1"),
    ("http://example.org", "http://example.org/"),
    ("http://example.org#f", "http://example.org/"),
    ("http://example.org/A/B", "http://example.org/A/B"),  # path case kept
    ("http://example.org/p?b=2&a=1", "http://example.org/p?a=1&b=2"),
    ("http://example.org/p?b=2&a=1&a=0", "http://example.org/p?a=1&a=0&b=2"),
    ("  http://example.org/x ", "http://example.org/x"),
    ("HTTP://H0000.EXAMPLE.ORG:80/p/0#frag", "http://h0000.example.org/p/0"),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_pure_python_spec(raw, expected):
    assert canonicalize_url(raw) == expected


def test_idempotent():
    for raw, expected in CASES:
        assert canonicalize_url(expected) == expected


def test_column_expr_matches_spec(spark):
    # the Column twin covers the full spec including query-param
    # stable sorting (only the Python spec strips leading/trailing
    # whitespace — frontier URLs arrive pre-stripped)
    subset = [(r, e) for r, e in CASES if r == r.strip()]
    df = spark.createDataFrame(subset, "url string, expected string")
    bad = df.filter(canonical_url_col(F.col("url")) != F.col("expected"))
    assert bad.count() == 0


QUERY_CASES = [
    "http://example.org/p?b=2&a=1",
    "http://example.org/p?b=2&a=1&a=0",  # duplicate keys keep order
    "http://example.org/p?z=9&y=8&x=7&w=6",
    "http://example.org/p?a=1",
    "http://example.org/p?a",  # bare key, no '='
    "http://example.org/p?",  # empty query
    "http://example.org/p?&",  # only empty pairs
    "http://example.org?x=2&a=b",  # empty path + query
    "http://example.org/p?b=2&a=1#frag",
]


def test_column_expr_matches_python_on_query_urls(spark):
    df = spark.createDataFrame([(u,) for u in QUERY_CASES], "url string")
    got = [
        r.c
        for r in df.select(canonical_url_col(F.col("url")).alias("c")).collect()
    ]
    assert got == [canonicalize_url(u) for u in QUERY_CASES]


def test_three_impls_agree_on_corpus(spark, tiny_seeds):
    # the Column product against the Python spec, row by row
    rows = tiny_seeds.select(
        "url", canonical_url_col(F.col("url")).alias("c")
    ).collect()
    assert rows
    for r in rows:
        assert r.c == canonicalize_url(r.url)


def test_idn_host_normalization():
    from hiispider_spark.functions.canon import idn_to_ascii, idn_url_to_ascii

    assert idn_to_ascii("münchen.example") == "xn--mnchen-3ya.example"
    assert (
        idn_to_ascii("пример.испытание")
        == "xn--e1afmkfd.xn--80akhbyknj4f"
    )
    assert idn_to_ascii("Plain.Example") == "plain.example"
    # uppercase unicode host: netloc rebuilt, not substring-replaced
    assert (
        idn_url_to_ascii("http://MÜNCHEN.example:8080/p?a=1")
        == "http://xn--mnchen-3ya.example:8080/p?a=1"
    )
    assert idn_url_to_ascii("http://plain.example/x") == "http://plain.example/x"
    assert idn_url_to_ascii("not a url") == "not a url"
    # invalid port: urlsplit defers the ValueError to .port access —
    # must pass through unchanged, never raise (crawler contract:
    # no URL is lost to normalization)
    assert (
        idn_url_to_ascii("http://例え.jp:99999/x") == "http://例え.jp:99999/x"
    )
    assert idn_url_to_ascii("http://例え.jp:bad/x") == "http://例え.jp:bad/x"
    # unicode and punycode spellings converge to one canonical identity
    from hiispider_spark.functions.canon import canonicalize_url

    a = canonicalize_url(idn_url_to_ascii("http://münchen.example/p/1"))
    b = canonicalize_url("http://xn--mnchen-3ya.example/p/1")
    assert a == b


def test_idn_udf_batch(spark):
    from hiispider_spark.functions.canon import idn_url_udf

    df = spark.createDataFrame(
        [("http://münchen.example/p/1",), ("http://plain.example/x",)],
        "url string",
    )
    got = [r.u for r in df.select(idn_url_udf("url").alias("u")).collect()]
    assert got == [
        "http://xn--mnchen-3ya.example/p/1",
        "http://plain.example/x",
    ]
