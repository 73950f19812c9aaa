"""Extraction plugins — the byte-identical invariant (BASELINE.json:15)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hiispider_spark.operators.extract import (
    evaluate_boolean_col,
    links_extract_udf,
    routed_with_links_udf,
    run_extraction,
    text_extract_col,
    text_extract_udf,
)


def _plugin(plugin: str):
    """The routed UDF's text field for every row run as ``plugin``."""
    return routed_with_links_udf("html", F.lit(plugin)).getField("text")


def test_text_extraction_byte_identical(spark, tiny_pages):
    """extract(html) == pages.text, compared on UTF-8 bytes."""
    got = tiny_pages.select(
        "url",
        text_extract_udf("html").alias("extracted"),
        F.col("text").alias("expected"),
    )
    bad = got.filter(
        F.encode("extracted", "UTF-8") != F.encode("expected", "UTF-8")
    )
    assert bad.count() == 0


def test_column_twin_matches_udf(spark, tiny_pages):
    df = tiny_pages.select(
        text_extract_udf("html").alias("a"),
        text_extract_col(F.col("html")).alias("b"),
    )
    assert df.filter(F.col("a") != F.col("b")).count() == 0


def test_links_extraction(spark, tiny_pages):
    row = tiny_pages.filter("i = 1").select(
        links_extract_udf("html").alias("links")
    ).first()
    # page 1 links to pages (7*1+1)=8 and (13*1+2)=15 (n=400 corpus)
    assert len(row.links) == 2
    assert row.links[0].endswith("/p/8")
    assert row.links[1].endswith("/p/15")


def test_title_plugin_none_when_absent(spark, tiny_pages):
    out = tiny_pages.limit(5).select(_plugin("title").alias("t"))
    assert all(r.t is None for r in out.collect())
    df = spark.createDataFrame(
        [(b"<html><title>Hello</title></html>",)], "html binary"
    )
    assert df.select(_plugin("title").alias("t")).first().t == "Hello"


def test_utf8_robustness(spark):
    df = spark.createDataFrame(
        [
            ("<b>café 中文</b>".encode(),),
            (b"<b>broken \xff bytes</b>",),
        ],
        "html binary",
    )
    rows = df.select(text_extract_udf("html").alias("t")).collect()
    assert rows[0].t == "café 中文"
    assert "broken � bytes" == rows[1].t  # errors='replace', never throws


def test_plugin_routing_per_url(spark, tiny_pages):
    """O-10: two plugins on one slice produce each plugin's own output
    per URL, in a single routed pass; unknown plugins fall back to text."""
    slice_ = tiny_pages.limit(20).select(
        "url",
        "html",
        F.when(F.col("i") % 2 == 0, F.lit("anchor"))
        .when(F.col("i") % 5 == 1, F.lit("no_such_plugin"))
        .otherwise(F.lit("text"))
        .alias("plugin"),
        F.col("text").alias("expected_text"),
    )
    got = slice_.withColumn(
        "out",
        routed_with_links_udf(F.col("html"), F.col("plugin")).getField("text"),
    )
    anchors = got.filter(F.col("plugin") == "anchor")
    assert anchors.count() > 0
    assert anchors.filter(~F.col("out").startswith("http://")).count() == 0
    texts = got.filter(F.col("plugin") != "anchor")
    assert texts.filter(F.col("out") != F.col("expected_text")).count() == 0


def test_run_extraction_uses_row_plugin(spark, tiny_pages):
    slice_ = tiny_pages.limit(10).select(
        F.col("i").cast("long").alias("url_hash"),
        "url",
        "html",
        F.when(F.col("i") % 2 == 0, F.lit("anchor")).otherwise(F.lit("text")).alias("plugin"),
        F.sha1("html").alias("content_sha1"),
    )
    out = run_extraction(slice_, epoch=1)
    assert set(r.plugin for r in out.select("plugin").distinct().collect()) == {
        "anchor",
        "text",
    }
    # links still extracted for every row regardless of plugin
    assert out.filter(F.size("items") != 2).count() == 0


def test_run_extraction_carries_sha256(spark, tiny_pages):
    # content_sha256 (the flagship's oracle digest, computed on the
    # fetch scan) passes through extraction untouched; absent → absent
    slice_ = tiny_pages.limit(10).select(
        F.col("i").cast("long").alias("url_hash"),
        "url",
        "html",
        F.sha1("html").alias("content_sha1"),
        F.sha2(F.col("html"), 256).alias("content_sha256"),
    )
    out = run_extraction(slice_, epoch=1)
    assert "content_sha256" in out.columns
    joined = out.select("url", "content_sha256").join(
        slice_.select("url", F.sha2(F.col("html"), 256).alias("want")), "url"
    )
    assert joined.filter(F.col("content_sha256") != F.col("want")).count() == 0
    out_no = run_extraction(slice_.drop("content_sha256"), epoch=1)
    assert "content_sha256" not in out_no.columns


def test_attach_payload_after_subset_join(spark):
    # the flagship's shape: join the NARROW pages frame down to a
    # slice, attach the payload after — html/text must be byte-equal
    # to the one-shot synth_pages rows for the same urls (FIXTURES.md
    # closed form), and extra join columns must pass through
    from hiispider_spark.sources.synth import (
        attach_page_payload,
        synth_pages,
        synth_pages_narrow,
    )
    from tests.conftest import SF_DIR, TINY

    whole = synth_pages(spark, SF_DIR, TINY)
    keys = whole.filter(F.col("i") % 37 == 0).select(
        "url", F.lit(1.25).alias("prio")
    )
    attached = attach_page_payload(
        synth_pages_narrow(spark, SF_DIR, TINY).join(keys, "url"), TINY
    )
    assert "prio" in attached.columns
    want = whole.join(keys.select("url"), "url").select(
        "url", "html", "text", "warc_ts", "lang"
    )
    got = attached.select("url", "html", "text", "warc_ts", "lang")
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0
    assert got.count() == keys.count()


def test_evaluate_boolean(spark):
    df = spark.createDataFrame(
        [("true",), ("YES",), ("1",), ("false",), ("0",), ("",)], "v string"
    )
    got = [r.b for r in df.select(evaluate_boolean_col(F.col("v")).alias("b")).collect()]
    assert got == [True, True, True, False, False, False]


def test_meta_plugin_and_column_twin(spark):
    """meta plugin extracts head metadata as sorted-key JSON; the
    Column twin yields the same field values."""
    import json

    from hiispider_spark.operators.extract import meta_extract_cols

    html = (
        '<html><head><title>t</title>'
        '<meta name="description" content="A fine page">'
        '<meta name="keywords" content="a,b,c">'
        '<meta property="og:title" content="OG Title">'
        "</head><body>x</body></html>"
    )
    bare = "<html><body>no meta</body></html>"
    df = spark.createDataFrame(
        [(0, html.encode()), (1, bare.encode())], "id long, html binary"
    )
    rows = {
        r.id: json.loads(r.m)
        for r in df.select("id", _plugin("meta").alias("m")).collect()
    }
    assert rows[0] == {
        "description": "A fine page",
        "keywords": "a,b,c",
        "og_title": "OG Title",
        "og_image": None,
    }
    assert rows[1] == {
        "description": None, "keywords": None,
        "og_title": None, "og_image": None,
    }
    cols = meta_extract_cols(F.col("html"))
    twin = df.select(
        "id", *[c.alias(k) for k, c in cols.items()]
    ).collect()
    got = {r.id: r.asDict() for r in twin}
    assert got[0]["description"] == "A fine page"
    assert got[0]["og_image"] is None
    assert got[1]["keywords"] is None


def test_meta_plugin_routes(spark):
    """routed_with_links_udf dispatches plugin='meta' rows to the meta
    impl in the same pass as text rows."""
    import json

    html = b'<html><head><meta name="description" content="d"></head><body>body text</body></html>'
    df = spark.createDataFrame(
        [(html, "meta"), (html, "text")], "html binary, plugin string"
    )
    out = [r.o for r in df.select(
        routed_with_links_udf("html", "plugin").getField("text").alias("o")
    ).collect()]
    assert json.loads(out[0])["description"] == "d"
    assert "body text" in out[1] and "<" not in out[1]
