"""Corpus-quality operators for large-scale training-data pipelines:
Gopher-style repetition signals, duplicated-span fraction (exact
substring-dedup signal), PII scrubbing, deterministic stratified
sampling, and per-source document caps (domain-mix rebalance).

The reference engine has no corpus-quality layer; these extend the
crawl pipeline toward the LLM-data use cases the brief names. Every
hot path is pure Column expressions (WholeStageCodegen) or
explode+groupBy shapes with map-side combine — no Python in any of
them — and each has an exact DuckDB oracle twin in `__spark_entry__`.

100 TB shapes, per operator:
- `gopher_signals`: one narrow scan for the per-doc columns plus one
  explode→partial-agg→agg chain keyed by (doc_id, bigram) for the
  top-bigram stat; both shuffles carry (long, int)-sized rows only.
- `span_dup_frac`: shingle→count→window, shuffled by the shingle KEY
  (hash the shingle with `key_col=F.xxhash64` in production so the
  shuffle carries 8-byte keys instead of n-token strings; the oracle
  twin uses the raw string — same result set, hashing is injective
  modulo 2^-64 collisions).
- `scrub_pii`: stateless regexp map, no shuffle, trivially parallel.
- `stratified_sample`: stateless arithmetic-hash filter, no shuffle;
  the LCG reduces doc_id mod 2^31 FIRST so the multiply can never
  overflow int64 at any corpus size.
- `source_cap`: one window per (lang, source) group — Spark plans
  rank-filters as WindowGroupLimit (partial top-k before the
  shuffle), so hot sources don't funnel whole partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hiispider_spark.operators.dedup import explode_shingles, tokens_col
from hiispider_spark.operators.textstats import quality_score_col

# Gopher-inspired keep thresholds, calibrated so each one splits the
# synthetic corpus non-trivially (real Gopher: 50..100k words, dup-line
# fraction, top-2-gram char fraction; same signals, token-based here).
MIN_TOKENS = 30
MAX_FRAC_DUP_WORDS = 0.55
MAX_TOP_BIGRAM_FRAC = 0.08

# word-boundary forms parse identically in Java regex (Spark) and RE2
# (DuckDB) — keep these patterns in the common subset of both dialects
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_MASK = "<PII>"

# LCG constants (glibc rand): hash = (doc_id mod 2^31) * MUL + INC mod 2^31
SAMPLE_MUL = 1103515245
SAMPLE_INC = 12345
SAMPLE_MOD = 2_147_483_648


def gopher_signals(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition/shape signals + composite keep flag
    (Rae et al. 2021 "Gopher" §A1.1 repetition filters, token-based).

    Output: doc_id, n_tokens, frac_dup_words, top_bigram_frac, keep.
    The top-bigram stat goes through explode→groupBy (map-side
    combinable) rather than a per-row O(n·d) higher-order-function
    scan — at 10k-token documents the HOF form is quadratic per row.
    """
    toks = tokens_col(F.col(text_col))
    narrow = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(toks))
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("frac_dup_words"),
    )
    bg = explode_shingles(docs, id_col, text_col, 2).select(
        F.col(id_col).alias("doc_id"), F.col("k").alias("bigram")
    )
    top = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("_mx"), F.sum("c").alias("_tot"))
        .select(
            "doc_id",
            F.round(F.lit(2.0) * F.col("_mx") / F.col("_tot"), 6).alias(
                "top_bigram_frac"
            ),
        )
    )
    out = narrow.join(top, "doc_id", "left").withColumn(
        "top_bigram_frac", F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
    )
    keep = (
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("frac_dup_words") <= MAX_FRAC_DUP_WORDS)
        & (F.col("top_bigram_frac") <= MAX_TOP_BIGRAM_FRAC)
    )
    return out.withColumn("keep", keep)


def span_dup_frac(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 7,
    key_col=None,
) -> DataFrame:
    """Per-document fraction of n-token spans that occur ≥2 times
    anywhere in the corpus — the exact-substring-dedup signal
    (RefinedWeb / "deduplicating training data" style) at shingle
    granularity.

    ``key_col`` maps the shingle string to the shuffle key; default
    identity (oracle-twinnable). Production: ``key_col=F.xxhash64``
    so the two shuffles carry 8-byte longs, not n-token strings.

    Shape: explode → count(*) OVER (PARTITION BY key) → groupBy doc —
    two shuffles, both map-side combinable, zero Python.
    """
    sh = explode_shingles(docs, id_col, text_col, n, key_col).select(
        F.col(id_col).alias("doc_id"), "k"
    )
    cnt = F.count("*").over(Window.partitionBy("k"))
    per_span = sh.select("doc_id", (cnt > 1).cast("int").alias("dup"))
    return per_span.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("dup").alias("n_dup_spans"),
        F.round(F.sum("dup") / F.count("*"), 6).alias("dup_frac"),
    )


def scrub_pii(text: Column) -> tuple[Column, Column, Column]:
    """(masked_text, n_emails, n_phones) — emails first so a phone
    inside a local-part can't double-count after masking."""
    n_emails = F.regexp_count(text, F.lit(EMAIL_RE)).cast("long")
    no_email = F.regexp_replace(text, EMAIL_RE, PII_MASK)
    n_phones = F.regexp_count(no_email, F.lit(PHONE_RE)).cast("long")
    masked = F.regexp_replace(no_email, PHONE_RE, PII_MASK)
    return masked, n_emails, n_phones


def pii_scrub(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    masked, n_emails, n_phones = scrub_pii(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        masked.alias("masked_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


def sample_hash_col(id_col: Column) -> Column:
    """Engine-portable deterministic hash in [0, 2^31): LCG over
    doc_id mod 2^31. The pre-mod keeps every intermediate < 2^62, so
    the arithmetic is exact int64 in Spark AND DuckDB at any id."""
    return F.pmod(
        F.pmod(id_col.cast("long"), F.lit(SAMPLE_MOD)) * SAMPLE_MUL + SAMPLE_INC,
        F.lit(SAMPLE_MOD),
    )


def stratified_sample(
    docs: DataFrame,
    id_col: str,
    stratum_col: str,
    rate_permille: dict[str, int],
) -> DataFrame:
    """Deterministic per-stratum downsampling (training-mix rebalance):
    keep a row iff hash(doc_id) % 1000 < rate_permille[stratum].
    Strata missing from the map are dropped (rate 0). Stateless narrow
    filter — no shuffle, no RNG, identical sample at any parallelism
    and on re-runs (resumable pipelines need the determinism)."""
    rate = F.create_map(
        *[F.lit(x) for kv in rate_permille.items() for x in kv]
    )[F.col(stratum_col)]
    keep = F.pmod(sample_hash_col(F.col(id_col)), F.lit(1000)) < F.coalesce(
        rate, F.lit(0)
    )
    return docs.filter(keep)


def source_cap(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    group_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Domain-mix cap: top-k documents per group by quality score
    (ties → lower doc_id). rank ≤ k plans as WindowGroupLimit —
    per-partition partial top-k before the shuffle, so a hot domain
    never materializes beyond k per map task."""
    q = F.round(quality_score_col(F.col(text_col)), 6)
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), *group_cols, q.alias("quality")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    lm_docs: DataFrame | None = None,
    alpha: float = 0.0,
    broadcast_lm: bool = True,
) -> DataFrame:
    """(doc_id, n_tokens, mean_logprob) — per-document mean unigram
    log-probability, the cheap LM-perplexity proxy (CCNet-style
    quality bucketing scores docs by LM fit; a unigram model is the
    degenerate-but-distributable case and already separates gibberish
    / boilerplate tails from typical text).

    ``lm_docs``: corpus the model is estimated on (default: ``docs``
    itself — every token in-vocabulary, so ``alpha`` may be 0). When
    scoring against a DIFFERENT reference corpus pass ``alpha > 0``
    (add-alpha smoothing); OOV tokens then score
    ln(alpha / (N + alpha·V)).

    Shape: two corpus passes (train counts, score join), both explode →
    map-side-combinable groupBy; the token→count table broadcasts while
    vocabulary is small (``broadcast_lm``), else a shuffled join keyed
    by token. Zero Python.
    """
    lm = lm_docs if lm_docs is not None else docs
    toks_lm = lm.select(
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("w")
    )
    freq = toks_lm.groupBy("w").agg(F.count("*").alias("c"))
    totals = freq.agg(
        F.sum("c").cast("double").alias("n_total"),
        F.count("*").cast("double").alias("v_size"),
    )
    dtoks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("w"),
    )
    freq_side = F.broadcast(freq) if broadcast_lm else freq
    logp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(alpha))
        / (F.col("n_total") + F.lit(alpha) * F.col("v_size"))
    )
    return (
        dtoks.join(freq_side, "w", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(logp), 6).alias("mean_logprob"),
        )
    )
