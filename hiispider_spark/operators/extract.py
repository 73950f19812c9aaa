"""Extract-plugin registry: hiispider plugins as Arrow pandas UDFs
(SURVEY.md §2 O-11, O-12).

The reference resolves ``"plugin/function"`` strings to callables on
``BaseServer.functions`` and invokes them per job with UTF-8 coercion
of every string [hs: hiispider/servers/base.py::callExposedFunction †,
hs: hiispider/plugins/ †, hs: hiispider/unicodeconverter.py †].

Here a plugin is a vectorized ``pandas_udf`` over the ``html`` binary
column. The flagship ``text`` plugin is defined as reference-equivalent
text extraction whose output must be **byte-identical to pages.text per
url** (BASELINE.json:15) — enforced by tests and by the driver oracle
(the same strip-tags rule is expressed in DuckDB SQL).

Every UDF is Arrow-batched: one Python invocation per ~10k-row batch,
numpy/pandas vectorized inside — no per-row Python (BASELINE.json:15).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TAG_RE = re.compile(r"<[^>]*>")
_HREF_RE = re.compile(r'href="([^"]*)"')


def _decode_utf8(html: pd.Series) -> pd.Series:
    """UTF-8 coercion of raw bodies — the reference's convertToUTF8
    [hs: hiispider/unicodeconverter.py †] (errors='replace' to never
    throw mid-batch, matching its best-effort coercion)."""
    return html.map(lambda b: b.decode("utf-8", errors="replace"))


# --- plugin implementations -------------------------------------------------
# Each has a decoded-text form (pd.Series[str] → pd.Series[str]), which
# the routed text+links UDF dispatches to so html is decoded ONCE per
# batch. The text plugin also ships as a standalone UDF wrapping it in a
# bytes form (pd.Series[bytes] → pd.Series[str]) — identical outputs by
# construction.
def _text_impl_s(s: pd.Series) -> pd.Series:
    return s.str.replace(_TAG_RE, "", regex=True)


def _title_impl_s(s: pd.Series) -> pd.Series:
    return s.str.extract(r"<title>([^<]*)</title>", expand=False)


def _anchor_impl_s(s: pd.Series) -> pd.Series:
    """First href in the document (a link-centric plugin that has real
    output on any page with out-links)."""
    return s.str.extract(_HREF_RE, expand=False)


def _text_impl(html: pd.Series) -> pd.Series:
    return _text_impl_s(_decode_utf8(html))


#: head-metadata fields: <meta name=...> and OpenGraph <meta
#: property=...> content values (the common machine-generated forms —
#: attribute order name/property-then-content, double quotes)
META_FIELD_RES = {
    "description": r'<meta\s[^>]*name="description"[^>]*content="([^"]*)"',
    "keywords": r'<meta\s[^>]*name="keywords"[^>]*content="([^"]*)"',
    "og_title": r'<meta\s[^>]*property="og:title"[^>]*content="([^"]*)"',
    "og_image": r'<meta\s[^>]*property="og:image"[^>]*content="([^"]*)"',
}


def _meta_impl_s(s: pd.Series) -> pd.Series:
    """Head-metadata plugin: the four fields as a sorted-key JSON
    object string (absent field → null), the engine's O-14 payload
    convention. Field extraction is vectorized; only the final
    dict→JSON assembly walks the batch."""
    import json as _json

    fields = {
        k: s.str.extract(rx, expand=False) for k, rx in META_FIELD_RES.items()
    }
    frame = pd.DataFrame(fields, index=s.index)
    return frame.apply(
        lambda r: _json.dumps(
            {k: (None if pd.isna(v) else v) for k, v in r.items()},
            sort_keys=True,
        ),
        axis=1,
    )


#: per-URL-routable text plugins (O-10): name -> vectorized impl over
#: decoded text. The Spark equivalent of BaseServer.functions — the
#: dict ships inside the routed UDF's closure (task-broadcast),
#: replacing the reference's Redis/memcached job-spec memoization with
#: a broadcast registry.
_DECODED_PLUGIN_IMPLS = {
    "text": _text_impl_s,
    "title": _title_impl_s,
    "anchor": _anchor_impl_s,
    "meta": _meta_impl_s,
}

DEFAULT_PLUGIN = "text"


@F.pandas_udf(T.StringType())
def text_extract_udf(html: pd.Series) -> pd.Series:
    """Flagship plugin: strip markup, keep text — byte-identical to the
    corpus ``text`` column (the BASELINE.json:15 invariant)."""
    return _text_impl(html)


@F.pandas_udf(T.ArrayType(T.StringType()))
def links_extract_udf(html: pd.Series) -> pd.Series:
    """Out-link plugin (UDTF-shaped: array out, explode downstream)."""
    return _decode_utf8(html).str.findall(_HREF_RE)


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("links", T.ArrayType(T.StringType())),
        ]
    )
)
def routed_with_links_udf(html: pd.Series, plugin: pd.Series) -> pd.DataFrame:
    """Per-URL plugin dispatch (O-10) plus out-links, in ONE pass.

    The reference resolves each job's ``"plugin/function"`` string to a
    callable and invokes it per job [hs: hiispider/servers/base.py::
    callExposedFunction †]. Here dispatch happens inside each Arrow
    batch: rows are masked per plugin name and each impl runs vectorized
    on its own subset — no per-row Python, no second scan per plugin.
    Unknown plugin names fall back to the flagship text extractor
    rather than failing the batch (the reference wraps unknown-function
    errors per job, not per worker). The html bytes cross the
    JVM→Python boundary and are UTF-8 decoded once per batch for both
    fields (guide §4: decode dominates these plugins).
    """
    decoded = _decode_utf8(html)
    out = pd.Series([None] * len(html), index=html.index, dtype=object)
    routed = pd.Series([False] * len(html), index=html.index)
    for name, impl in _DECODED_PLUGIN_IMPLS.items():
        mask = (plugin == name).to_numpy()
        if mask.any():
            out[mask] = impl(decoded[mask]).astype(object)
            routed[mask] = True
    rest = (~routed).to_numpy()
    if rest.any():
        out[rest] = _DECODED_PLUGIN_IMPLS[DEFAULT_PLUGIN](
            decoded[rest]
        ).astype(object)
    return pd.DataFrame(
        {"text": out, "links": decoded.str.findall(_HREF_RE)},
        index=html.index,
    )


# O-13 — evaluateBoolean [hs: hiispider/evaluateboolean.py †]
def evaluate_boolean_col(c: Column) -> Column:
    lc = F.lower(F.trim(c.cast("string")))
    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain
    # boolean cast THROWS on unrecognized spellings and would fail the
    # whole extraction task; the reference coerces per value, so a
    # non-boolean yields NULL, never a dead batch
    return F.when(lc.isin("true", "t", "yes", "y", "1"), F.lit(True)).when(
        lc.isin("false", "f", "no", "n", "0", ""), F.lit(False)
    ).otherwise(c.try_cast("boolean"))


def meta_extract_cols(html: Column) -> dict[str, Column]:
    """Column-expression twin of the meta plugin: one JVM regexp per
    field (codegen'd, oracle-twinnable); missing-or-empty content →
    NULL."""
    s = F.decode(html, "UTF-8")
    return {
        k: F.nullif(F.regexp_extract(s, rx, 1), F.lit(""))
        for k, rx in META_FIELD_RES.items()
    }


def text_extract_col(html: Column) -> Column:
    """Column-expression twin of text_extract_udf (JVM regex, codegen).

    Used by oracle-checked queries; tests assert it matches the UDF
    byte-for-byte on the corpus.
    """
    return F.regexp_replace(F.decode(html, "UTF-8"), "<[^>]*>", "")


def run_extraction(modified: DataFrame, epoch: int) -> DataFrame:
    """Apply the routed plugins → ``extracted`` rows (O-10/O-11).

    ``text`` is the row's own plugin's output (``plugin`` column on the
    frontier row; rows without one run the flagship text plugin). Links
    are extracted for EVERY row regardless of plugin — frontier
    expansion is the crawler's job, not the plugin's. items =
    out-links as (item_hash, payload) pairs; item_hash is xxhash64 of
    the payload (JVM-side), feeding the delta operator.

    text + links come from ONE fused Arrow UDF
    (:func:`routed_with_links_udf`): the html column crosses the Python
    boundary once and is decoded once per batch (guide §4) — each field
    byte-identical to the standalone plugin UDF it shares an impl with.
    """
    carry = [
        c for c in ("part_id", "content_sha256") if c in modified.columns
    ]
    plugin = (
        F.col("plugin")
        if "plugin" in modified.columns
        else F.lit(DEFAULT_PLUGIN)
    )
    tl = routed_with_links_udf(F.col("html"), plugin)
    return modified.withColumn("_tl", tl).select(
        *carry,
        "url_hash",
        "url",
        plugin.alias("plugin"),
        F.col("_tl.text").alias("text"),
        F.transform(
            F.col("_tl.links"),
            lambda u: F.struct(
                F.xxhash64(u).alias("item_hash"), u.alias("payload")
            ),
        ).alias("items"),
        "content_sha1",
        F.lit(epoch).cast("long").alias("epoch"),
    )
