"""Text analysis for training-data pipelines: token counts, quality
scores, language ID heuristic, document fingerprinting.

All pure Column expressions (WholeStageCodegen; no UDFs) with DuckDB
SQL twins in the driver oracle — the hot path over 10^9 documents must
not leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hiispider_spark.operators.dedup import tokens_col

# tiny per-language stopword lists for the n-gram/stopword heuristic —
# deterministic and SQL-expressible (IN lists), not a real LID model
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "les"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
}

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_MUL = 31


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


# GPT-2-style pre-tokenizer chunks (simplified to an engine-portable
# regex: letter runs / digit runs / punctuation runs). This is the
# sequence BPE merges start from, so its count upper-bounds nothing but
# correlates with real tokenizer counts far better than whitespace does.
PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def pretoken_count_col(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PRETOKEN_RE)).cast("long")


def char_count_col(text: Column) -> Column:
    return F.length(text)


def punct_ratio_col(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(text, "[A-Za-z0-9 ]", "")
    return F.round(
        F.length(stripped) / F.greatest(F.length(text), F.lit(1)), 6
    )


# The token statistics take an optional precomputed token array:
# ``toks`` = ``tokens_col(text)``, ``low_toks`` = ``tokens_col(F.lower(
# text))``. ``document_profile`` projects the two arrays once and feeds
# every statistic from them; without one, a helper tokenizes ``text``.


def mean_word_len_col(text: Column, toks: Column | None = None) -> Column:
    toks = tokens_col(text) if toks is None else toks
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 6)


def stopword_ratio_col(
    text: Column, lang: str = "en", low_toks: Column | None = None
) -> Column:
    toks = tokens_col(F.lower(text)) if low_toks is None else low_toks
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang]))
    )
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score_col(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, words not too
    short/long, low punctuation noise. Deterministic and SQL-twinnable."""
    return _quality_score(
        token_count_col(text), mean_word_len_col(text), punct_ratio_col(text)
    )


def _quality_score(n_tok: Column, wl: Column, punct: Column) -> Column:
    len_ok = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    wl_ok = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_ok = F.lit(1.0) - F.least(punct * 5, F.lit(1.0))
    return F.round((len_ok + wl_ok + punct_ok) / 3.0, 6)


def lang_guess_col(text: Column, low_toks: Column | None = None) -> Column:
    """argmax over per-language stopword hit counts; 'und' if all zero.

    Ties break by language code order (deterministic; matches the SQL
    twin's CASE chain).
    """
    toks = tokens_col(F.lower(text)) if low_toks is None else low_toks
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reversed so earlier languages win ties in the final when-chain
    for lang in reversed(list(LANG_STOPWORDS)):
        out = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def fingerprint_col(text: Column, toks: Column | None = None) -> Column:
    """Rolling polynomial hash over word values (Rabin-Karp style):
    word value = ascii(first char) + length; acc = (acc*31 + v) mod p.

    Engine-portable: identical arithmetic exists in DuckDB list_reduce,
    and the modulus keeps every intermediate within int64.
    """
    vals = F.transform(
        tokens_col(text) if toks is None else toks,
        lambda t: (F.ascii(F.substring(t, 1, 1)) + F.length(t)).cast("long"),
    )
    return F.aggregate(
        vals,
        F.lit(7).cast("long"),
        lambda acc, v: (acc * FINGERPRINT_MUL + v) % FINGERPRINT_MOD,
    )


def document_profile(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per document with every text statistic — the shape a
    quality-filtering pipeline consumes. Each text is split twice (as
    is and lowered), not once per statistic: the token arrays are
    projected into columns and every statistic reads those."""
    t = F.col(text_col)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        t.alias("_text"),
        tokens_col(t).alias("_tok"),
        tokens_col(F.lower(t)).alias("_low"),
    )
    t, tok, low = F.col("_text"), F.col("_tok"), F.col("_low")
    stats = toks.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        pretoken_count_col(t).alias("n_pretokens"),
        char_count_col(t).alias("n_chars"),
        punct_ratio_col(t).alias("punct_ratio"),
        mean_word_len_col(t, tok).alias("mean_word_len"),
        stopword_ratio_col(t, "en", low).alias("stopword_ratio_en"),
        lang_guess_col(t, low).alias("lang_guess"),
        fingerprint_col(t, tok).alias("fingerprint"),
    )
    quality = _quality_score(
        F.col("n_tokens"), F.col("mean_word_len"), F.col("punct_ratio")
    )
    return stats.select(
        "doc_id", "n_tokens", "n_pretokens", "n_chars", "punct_ratio",
        "mean_word_len", "stopword_ratio_en", quality.alias("quality"),
        "lang_guess", "fingerprint",
    )


# Writing-system profile: explicit codepoint ranges (not \p{Script}
# classes — Java regex says \p{IsHan}, RE2 says \p{Han}; literal ranges
# parse identically in both engines, the same dialect-subset rule as
# quality.EMAIL_RE). Ranges cover the dominant blocks, not the full
# Unicode script inventory — a corpus-routing signal, not a validator.
SCRIPT_RANGES = {
    "latin": "A-Za-z\\u00c0-\\u024f",
    "cyrillic": "\\u0400-\\u04ff",
    "greek": "\\u0370-\\u03ff",
    "arabic": "\\u0600-\\u06ff",
    "devanagari": "\\u0900-\\u097f",
    "cjk": "\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af",
}


def script_profile_cols(text: Column) -> dict[str, Column]:
    """Per-script character fractions (of all letter-ish chars counted
    across the listed scripts) — pure Column regexp_count exprs."""
    counts = {
        name: F.regexp_count(text, F.lit(f"[{rng}]")).cast("long")
        for name, rng in SCRIPT_RANGES.items()
    }
    total = F.greatest(
        sum(counts.values(), F.lit(0).cast("long")), F.lit(1)
    )
    return {
        f"frac_{name}": F.round(c / total, 6) for name, c in counts.items()
    }


def script_profile(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, frac_<script>..., main_script) — routing signal for
    multilingual corpus pipelines (which tokenizer/LM shard handles the
    doc). ``main_script`` = argmax fraction, ties broken by the fixed
    script order; 'unknown' when no counted script chars exist."""
    fracs = script_profile_cols(F.col(text_col))
    names = list(SCRIPT_RANGES)
    best = F.greatest(*[fracs[f"frac_{n}"] for n in names])
    main = F.lit("unknown")
    for n in reversed(names):
        main = F.when(
            (best > 0) & (fracs[f"frac_{n}"] == best), F.lit(n)
        ).otherwise(main)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *[fracs[f"frac_{n}"].alias(f"frac_{n}") for n in names],
        main.alias("main_script"),
    )


def tfidf_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    broadcast_df: bool = True,
) -> DataFrame:
    """(doc_id, token, tf, score, rank) — the ``k`` highest-TF-IDF
    tokens per document (smoothed idf = ln((N+1)/(df+1)) + 1, the
    sklearn convention), ties → lexicographic. The standard keyword /
    topic-labeling signal for corpus exploration and weak supervision.

    Shape: two explode passes (document-frequency counts, then per-doc
    term counts), both map-side-combinable groupBys; the df table
    broadcasts while the vocabulary is small (``broadcast_df`` — flip
    off past broadcast range for a token-keyed shuffle join); the
    per-doc top-k plans as WindowGroupLimit. Zero Python.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("token"),
    )
    n_docs = docs.select(
        F.count("*").cast("double").alias("__n_docs")
    )
    df_tab = toks.distinct().groupBy("token").agg(
        F.count("*").cast("double").alias("__df")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_side = F.broadcast(df_tab) if broadcast_df else df_tab
    idf = F.log((F.col("__n_docs") + 1.0) / (F.col("__df") + 1.0)) + 1.0
    scored = (
        tf.join(df_side, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.round(F.col("tf") * idf, 6))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "score", "rank")
    )
