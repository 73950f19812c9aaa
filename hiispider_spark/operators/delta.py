"""Delta computation — "new items since last poll" (SURVEY.md §2 O-17).

The reference's ``Autogenerator``/``Delta`` diff consecutive poll
results: locate the item list in nested JSON, normalize each item by
dropping ``ignores`` fields (dates etc.), then emit items present now
but not before, each with a stable id hash
[hs: hiispider/delta.py::Autogenerator, Delta †].

Spark-native: items are rows; normalization is JSON canonicalization;
"present now but not before" is a left-anti join on the stable hash —
per (url_hash) key, current epoch vs previous epoch.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_item(payload: str, ignores: tuple[str, ...] = ()) -> str:
    """Canonical JSON of one item: drop ignored fields, sort keys —
    the reference's Autogenerator normalization. Non-JSON payloads
    pass through unchanged (plain-string items, e.g. out-links)."""
    try:
        obj = json.loads(payload)
    except (ValueError, TypeError):
        return payload
    if isinstance(obj, dict):
        obj = {k: v for k, v in obj.items() if k not in ignores}
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def locate_item_list(obj, path: str | None = None) -> list:
    """The Autogenerator's list-locating heuristic: find THE item list
    inside an arbitrary nested payload [hs: hiispider/delta.py::
    Autogenerator †].

    With ``path`` ('a.b.c', integer segments index into lists): follow
    it; a missing step or a non-list target yields []. Without a path:
    the LARGEST list anywhere in the structure wins (the reference's
    autogenerate mode — API responses bury the item array under
    pagination/metadata wrappers, and the payload's dominant list is
    the item list); ties go to the earliest list in depth-first
    document order, so the choice is deterministic. A root-level list
    is simply the largest-list case."""
    if path:
        cur = obj
        for key in path.split("."):
            if isinstance(cur, dict) and key in cur:
                cur = cur[key]
            elif (
                isinstance(cur, list)
                and key.lstrip("-").isdigit()
                and -len(cur) <= int(key) < len(cur)
            ):
                cur = cur[int(key)]
            else:
                return []
        return cur if isinstance(cur, list) else []
    best: list | None = None

    def walk(node) -> None:
        nonlocal best
        if isinstance(node, list):
            if best is None or len(node) > len(best):
                best = node
            for child in node:
                walk(child)
        elif isinstance(node, dict):
            for v in node.values():
                walk(v)

    walk(obj)
    return best if best is not None else []


def autogen_items_udf(path: str | None = None, ignores: tuple[str, ...] = ()):
    """Arrow-batched payload → array<string> of located item payloads:
    parse JSON, locate the item list (:func:`locate_item_list`), emit
    each element as canonical JSON (dict items get ``ignores`` fields
    dropped and keys sorted — the Autogenerator normalization; scalar/
    string items pass through as their JSON encoding). Non-JSON
    payloads yield []. One UDF, no per-row Python in the plan."""

    def one(payload):
        try:
            obj = json.loads(payload)
        except (ValueError, TypeError):
            return []
        out = []
        for item in locate_item_list(obj, path):
            if isinstance(item, dict):
                item = {k: v for k, v in item.items() if k not in ignores}
            out.append(
                json.dumps(item, sort_keys=True, separators=(",", ":"))
            )
        return out

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def locate(payload: pd.Series) -> pd.Series:
        return payload.map(one)

    return locate


def autogen_delta(
    current: DataFrame,
    previous: DataFrame,
    payload_col: str = "payload",
    key_col: str = "url_hash",
    path: str | None = None,
    ignores: tuple[str, ...] = (),
) -> DataFrame:
    """End-to-end Autogenerator parity: per polled payload, locate the
    item list, normalize items, and emit items present in ``current``
    but not ``previous`` for the same key — (key, item) rows.

    ``ignores`` drops volatile fields (timestamps, view counts) BEFORE
    the membership hash, so a re-emitted item whose ignored fields
    moved is NOT new — but the emitted payload keeps the current
    epoch's full item (pre-drop), matching the reference (ignores
    shape identity, delivers the fresh data). 100 TB shape: the UDF is
    the only Python; membership is an xxhash64 left-anti join keyed by
    (key, normalized item) — 8-byte shuffle keys, never payload
    strings.

    Guarantee boundary: membership is HASHED, not exact — a 64-bit
    collision between a previous item and a genuinely new item under
    the same key silently suppresses the new item (P ≈ m²/2⁶⁵ per key
    for m items; with m ≤ 10⁴ items per page that is < 10⁻¹¹ per key).
    Unlike the seen-set bloom there is no exact check behind it; a
    deployment that cannot tolerate that loss mode should carry the
    normalized string through the join (``compute_delta`` on small
    row counts) and equality-confirm."""
    loc_full = autogen_items_udf(path, ())
    loc_norm = autogen_items_udf(path, ignores)

    def items(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(key_col).alias("url_hash"),
            F.explode(
                F.arrays_zip(
                    loc_full(F.col(payload_col)).alias("item"),
                    loc_norm(F.col(payload_col)).alias("norm"),
                )
            ).alias("z"),
        ).select(
            "url_hash",
            F.col("z.item").alias("item"),
            F.xxhash64("url_hash", F.col("z.norm")).alias("_nh"),
        )

    cur = items(current)
    prev = items(previous).select("_nh")
    return cur.join(prev, "_nh", "left_anti").drop("_nh")


def explode_items(extracted: DataFrame) -> DataFrame:
    """extracted.items → one row per item (url_hash, item_hash, payload,
    epoch) — the UDTF-shaped output of multi-item plugins."""
    return extracted.select(
        "url_hash",
        "epoch",
        F.explode_outer("items").alias("item"),
    ).select(
        "url_hash",
        "epoch",
        F.col("item.item_hash").alias("item_hash"),
        F.col("item.payload").alias("payload"),
    ).filter(F.col("item_hash").isNotNull())


def compute_delta(
    current_items: DataFrame,
    previous_items: DataFrame,
    ignores: tuple[str, ...] = (),
) -> DataFrame:
    """Items in ``current`` whose normalized hash is absent from
    ``previous`` for the same url (left-anti join per url_hash key).
    The Arrow-batched UDF only normalizes; the hash is JVM-side."""

    @F.pandas_udf(T.StringType())
    def norm(payload: pd.Series) -> pd.Series:
        return payload.map(lambda p: normalize_item(p, ignores))

    def keyed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "norm_hash", F.xxhash64("url_hash", norm(F.col("payload")))
        )

    cur = keyed(current_items)
    prev = keyed(previous_items).select("norm_hash")
    return cur.join(prev, "norm_hash", "left_anti").drop("norm_hash")

