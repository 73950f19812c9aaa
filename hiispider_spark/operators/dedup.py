"""Deduplication operators for training-data pipelines.

Beyond the reference's request-identity dedup (O-19), a 100 TB crawl
corpus needs content-level dedup before training. Four tiers, each a
``queries()`` entry in the driver contract:

- exact:        hash the normalized text, keep the lowest doc id
- n-gram Jaccard: token-set similarity via explode + self-join (exact,
                  quadratic in candidates — used on bounded subsets or
                  as the verify stage after LSH)
- MinHash+LSH:  shingles → per-seed min-hash signature → banded
                bucket join → candidate pairs (sub-quadratic; the
                scale path); one Arrow UDF computes a batch's band
                hashes in numpy over a hash family DuckDB mirrors
                value for value, one shuffle for the band join
- SimHash:      64-bit sign-sum fingerprint over a portable hash
                family DuckDB mirrors; near-dups differ in few bits
                (hamming ≤ t)

Scale notes: MinHash/LSH is the only one that survives 10^9 docs —
band-bucket join keys are (band_idx, band_hash), high-cardinality and
uniform, so the shuffle balances; the Jaccard verify runs only on
bucket-collision pairs.
"""

from __future__ import annotations

import logging
from functools import cache

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

#: per-(band_idx, band_hash) candidate cap for the LSH self-joins. The
#: band join is quadratic WITHIN a bucket: band keys are uniform for
#: distinct texts, but 10M near-identical boilerplate docs (ubiquitous
#: at 100 TB — exact dedup removes only the byte-identical core) share
#: every band value and would mint ~10^14 candidate pairs in one
#: bucket. Ranking each bucket by doc_id and keeping the first CAP
#: bounds candidates at O(bands · n · cap/2) while the rank<=k filter
#: compiles to WindowGroupLimit (per-partition partial top-k BEFORE the
#: shuffle — the hot bucket never materializes, let alone sorts). Docs
#: beyond the cap in a bucket lose candidacy in that band only; the cap
#: is far above any observed bucket on the synthetic corpus (max
#: band-bucket size ≲ a few at sf0.1), so test/oracle output is
#: unchanged. NOT silent: pass log_dropped=True for an eager warning,
#: or monitor band_bucket_overflow() in a production pipeline.
DEFAULT_BUCKET_CAP = 512

#: strip the per-row uniqueness suffix the corpus synthesizer appends —
#: collapsing pages back to their source document, which gives the
#: sandbox a real duplicate-group structure to exercise.
UNIQ_SUFFIX_RE = r" #\d+$"


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(text, UNIQ_SUFFIX_RE, "")


def exact_dedup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5(normalized text) → group size + survivor id.

    Map-side-combinable hash aggregation; at 100 TB the only shuffle is
    the 16-byte digest + id pairs, never the text.
    """
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.md5(normalized_text(F.col(text_col))).alias("text_hash"),
        )
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def tokens_col(text: Column) -> Column:
    """Whitespace tokens, empties removed (shared by dedup + textstats)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def shingles_col(toks: Column, n: int) -> Column:
    """All n-token shingles as space-joined strings, in order (empty if
    <n tokens). ``toks`` must be a column REFERENCE: the lambda reads it
    once per shingle, and an expression there (``tokens_col(text)``) is
    re-evaluated per shingle, O(T²) per document. ``transform`` over a
    sliced head, not ``sequence(0, size - n)``, which would count down
    below n tokens. Callers go through ``explode_shingles``."""
    head = F.slice(toks, 1, F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0)))
    return F.transform(
        head, lambda x, i: F.array_join(F.slice(toks, i + 1, n), " ")
    )


def explode_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    key_col=None,
    distinct: bool = False,
    size_col: str | None = None,
) -> DataFrame:
    """(id_col, [size_col,] k): one row per n-token shingle of each
    document — the one token n-gram builder (quality's bigrams and span
    dedup, the n-gram Jaccard, contamination). The tokens are projected
    into a column first, so each text is split once. ``key_col`` maps
    each shingle string to its key (identity by default); ``distinct``
    keeps each row's distinct keys, taken inside the row (no shuffle);
    ``size_col`` carries each document's key count on its rows."""
    toks = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_t"))
    sh = shingles_col(F.col("_t"), n)
    if key_col is not None:
        # a lambda: transform rejects varargs functions like F.xxhash64
        sh = F.transform(sh, lambda s: key_col(s))
    if distinct:
        sh = F.array_distinct(sh)
    keys = toks.select(id_col, sh.alias("_k"))
    cols = [id_col]
    if size_col is not None:
        keys = keys.withColumn(size_col, F.size("_k").cast("long"))
        cols.append(size_col)
    # explode_outer, then drop its null row: a plain explode of a column
    # makes Catalyst infer size(_k) > 0 and push that filter below the
    # projections, where it would rebuild every shingle from the text
    return keys.select(*cols, F.explode_outer("_k").alias("k")).filter(
        F.col("k").isNotNull()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-n-gram Jaccard similarity for all pairs sharing ≥1
    n-gram: explode → equi-join on the n-gram → |∩| per pair → Jaccard.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, sim ≥ threshold.
    """
    grams = explode_shingles(
        docs, id_col, text_col, n, distinct=True, size_col="n_grams"
    ).select(F.col(id_col).alias("doc_id"), "n_grams", F.col("k").alias("gram"))
    a = grams.alias("a")
    b = grams.alias("b")
    return (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_grams").alias("na"),
            F.col("b.n_grams").alias("nb"),
        )
        .agg(F.count("*").alias("n_inter"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _cap_buckets(
    stacked: DataFrame, bucket_cap: int, order_col: str = "doc_id"
) -> DataFrame:
    """Keep the first ``bucket_cap`` rows (by ``order_col``, so the kept
    set is deterministic) of every (band_idx, bh) bucket. rank<=k over a
    window compiles to WindowGroupLimit: each input partition keeps at
    most cap rows per key BEFORE the shuffle, so a pathological 10M-row
    boilerplate bucket is bounded map-side."""
    w = Window.partitionBy("band_idx", "bh").orderBy(order_col)
    return (
        stacked.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= bucket_cap)
        .drop("_rk")
    )


def band_bucket_overflow(
    stacked: DataFrame, bucket_cap: int = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """Buckets whose membership exceeds ``bucket_cap`` — the
    no-silent-caps observability hook: (band_idx, bh, n_docs,
    n_dropped). A production dedup run logs/persists this beside the
    pair output (one map-side-combinable agg over the stacked frame)."""
    return (
        stacked.groupBy("band_idx", "bh")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > bucket_cap)
        .select(
            "band_idx",
            "bh",
            "n_docs",
            (F.col("n_docs") - bucket_cap).alias("n_dropped"),
        )
    )


def _log_overflow(stacked: DataFrame, bucket_cap: int, what: str) -> None:
    """Eagerly count capped-away bucket membership and WARN (one extra
    aggregation job — the guard's observability cost when requested)."""
    rows = (
        band_bucket_overflow(stacked, bucket_cap)
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("n_dropped").alias("n_dropped"),
            F.max("n_docs").alias("max_bucket"),
        )
        .collect()[0]
    )
    if rows["n_buckets"]:
        logger.warning(
            "%s: bucket_cap=%d dropped %d band rows across %d hot "
            "buckets (largest bucket: %d members) — candidate recall is "
            "reduced for those buckets' members",
            what, bucket_cap, rows["n_dropped"], rows["n_buckets"],
            rows["max_bucket"],
        )


def _banded_pairs(stacked: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Self-join the (doc_id, band_idx, bh) stack into candidate pairs
    (doc_a < doc_b, n_bands_hit), capping each bucket first."""
    if bucket_cap is not None:
        stacked = _cap_buckets(stacked, bucket_cap)
    a, b_ = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_bands_hit"))
    )


# ---- MinHash + LSH over a portable hash family ----
# Every hash is integer arithmetic mod a prime that numpy and DuckDB
# compute identically, so the DuckDB twin of the pipeline (the
# ``dedup_minhash_portable`` SQL of ``oracle_sql()``) checks it value
# for value:
#   fp(shingle) = (acc·31 + codepoint) mod p over its characters, acc₀ = 7
#   mh_i        = min over the doc's shingles of (a_i·fp + b_i) mod p
#   band_b      = the same rolling polynomial over band b's mh values
# Every intermediate is below p² < 2⁶³, so int64 numpy never wraps.
# (a·x+b) mod p is 2-universal, not min-wise independent:
# tools/minhash_recall.py checks its band-hit rate per Jaccard bin
# against the S-curve 1-(1-J^r)^b.

MINHASH_P = 1_000_000_007
#: character shingle width of the MinHash signature
SHINGLE_K = 5
_SM = (1 << 64) - 1


def _mh_splitmix(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & _SM
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _SM
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _SM
    return x ^ (x >> 31)


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i ∈ [1, p-1], b_i ∈ [0, p-1] —
    shared verbatim by the numpy signature and the DuckDB oracle SQL."""
    return [
        (
            (_mh_splitmix(2 * i) % (MINHASH_P - 1)) + 1,
            _mh_splitmix(2 * i + 1) % MINHASH_P,
        )
        for i in range(n_hashes)
    ]


#: shingles hashed per step of the signature loop: the (n_hashes,
#: chunk) permutation matrix bounds a worker's scratch memory at
#: n_hashes · chunk · 8 B per temporary whatever the document length
MINHASH_CHUNK = 8192


@cache
def _band_hashes_udf(n_hashes: int, bands: int):
    """The Arrow UDF texts → each text's ``bands`` band hashes, one per
    (n_hashes, bands) shape. Its body is a closure, shipped by value so
    that workers do not import this package, and it reads and builds
    Arrow arrays from buffers: ``pa.array`` and ``fill_null`` import
    pandas, about 25 MB more per Python worker."""
    per_band = n_hashes // bands
    coeffs = np.array(minhash_coeffs(bands * per_band), np.int64)
    a, b = coeffs[:, :1], coeffs[:, 1:]

    def band_hashes(texts: pa.Array) -> pa.Array:
        # A text's shingles are its character k-grams at offsets 0..len-k;
        # a text shorter than k is one whole-text shingle, "" the empty
        # one (fp 7). Every shingle of the batch is one position of a flat
        # index, hashed a chunk at a time; each chunk's per-text minima
        # come from one segmented min (reduceat). texts holds no nulls.
        n = len(texts)
        _, off, data = texts.buffers()
        off = np.frombuffer(off, np.int32)[texts.offset : texts.offset + n + 1]
        u8 = np.frombuffer(data or b"", np.uint8)[off[0] : off[-1]]
        # a UTF-8 byte that is not a continuation byte starts a code point
        first = np.cumsum(np.r_[0, (u8 & 0xC0) != 0x80])
        n_cp = first[off[1:] - off[0]] - first[off[:-1] - off[0]]
        # K zero pads: a short text's unused offsets read pads, not past the end
        text = u8.tobytes().decode("utf-8") + "\0" * SHINGLE_K
        cp = np.frombuffer(text.encode("utf-32-le"), np.uint32).astype(np.int64)
        width = np.minimum(n_cp, SHINGLE_K)
        n_sh = n_cp - width + 1
        cp_at, sh_at, total = np.cumsum(n_cp) - n_cp, np.cumsum(n_sh) - n_sh, n_sh.sum()
        sig = np.full((len(a), n), MINHASH_P, np.int64)
        for lo in range(0, total, MINHASH_CHUNK):
            pos = np.arange(lo, min(lo + MINHASH_CHUNK, total))
            row = np.searchsorted(sh_at, pos, side="right") - 1
            start, fp = cp_at[row] + pos - sh_at[row], np.full(len(pos), 7)
            for j in range(SHINGLE_K):
                roll = (fp * 31 + cp[start + j]) % MINHASH_P
                fp = np.where(j < width[row], roll, fp)
            seg = np.flatnonzero(np.diff(row, prepend=-1))
            mins = np.minimum.reduceat((a * fp + b) % MINHASH_P, seg, axis=1)
            sig[:, row[seg]] = np.minimum(sig[:, row[seg]], mins)
        acc = np.full((bands, n), 7, np.int64)
        for r in range(per_band):
            acc = (acc * 31 + sig[r::per_band]) % MINHASH_P
        flat = pa.py_buffer(acc.T.copy())
        offsets = pa.py_buffer(np.arange(0, bands * n + 1, bands, dtype=np.int32))
        values = pa.Array.from_buffers(pa.int64(), bands * n, [None, flat])
        return pa.Array.from_buffers(
            pa.list_(pa.int64()), n, [None, offsets], children=[values]
        )

    return F.arrow_udf(band_hashes, T.ArrayType(T.LongType()))


def _minhash_bands(docs: DataFrame, id_col: str, text_col: str,
                   n_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band_idx, bh): one row per document and LSH band; a null
    text hashes like ""."""
    text = F.coalesce(normalized_text(F.col(text_col)), F.lit(""))
    band_vals = _band_hashes_udf(n_hashes, bands)(text)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(band_vals).alias("band_idx", "bh"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    log_dropped: bool = False,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs (doc_a < doc_b, n_bands_hit).

    rows/band = n_hashes // bands; two docs collide if any band's
    signature slice matches exactly. Candidates should flow into
    :func:`ngram_jaccard_pairs` (or signature similarity) to verify.
    Signatures use the portable family above, computed in numpy by one
    Arrow UDF a batch at a time.

    ``bucket_cap`` bounds the per-bucket self-join blowup on boilerplate
    corpora (see :data:`DEFAULT_BUCKET_CAP`); ``log_dropped=True`` pays
    one extra aggregation job to WARN what the cap discarded.
    """
    stacked = _minhash_bands(docs, id_col, text_col, n_hashes, bands)
    if log_dropped and bucket_cap is not None:
        _log_overflow(stacked, bucket_cap, "minhash_lsh_pairs")
    return _banded_pairs(stacked, bucket_cap)


# ---- SimHash over the portable hash family ----
# A 64-bit sign-sum signature (Charikar '02) whose bit b, per token, is
# the high bit of a universal hash of the token's character polynomial:
#   bit_b(token) = 1 iff 2·((a_b·fp(token) + c_b) mod p) ≥ p
# with fp the rolling polynomial of the MinHash family above, so DuckDB
# computes every signature bit identically (the SimHash SQL of
# ``oracle_sql()``). The high bit, not the low one: tokens such as tok0,
# tok1, ... have fingerprints in arithmetic progression, over which the
# low bit of a linear map alternates, the sign sums sit near 0 and one
# extra token flips many bits.


def char_fp_col(s: Column) -> Column:
    """Engine-portable polynomial hash of a string's characters:
    acc = (acc·31 + codepoint) mod p, acc₀ = 7. Every intermediate
    stays within int64. Empty string → 7 (the seed), matching the SQL
    twin's empty list_reduce prepend."""
    codes = F.when(
        F.length(s) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.ascii(s.substr(i, F.lit(1))).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.aggregate(
        codes,
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 31 + c) % MINHASH_P,
    )


#: (a_b, c_b) of each of the 64 signature bits, a ∈ [1, p-1],
#: c ∈ [0, p-1]: a splitmix stream disjoint from minhash_coeffs'
SIMHASH_COEFFS = [
    (
        (_mh_splitmix(1000 + 2 * b) % (MINHASH_P - 1)) + 1,
        _mh_splitmix(1000 + 2 * b + 1) % MINHASH_P,
    )
    for b in range(64)
]


def simhash_near_dups(
    docs: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-duplicate pairs (doc_a < doc_b, hamming ≤ t).

    The signature is one aggregate over the token fingerprints carrying
    64 sign-sums (one transform-with-index updates them all per token),
    not 64 aggregates that each re-traverse the tokens: higher-order
    functions are interpreted per element, so traversals are the cost.
    The coefficients ride as literal arrays indexed by the position.
    Every intermediate is below p² < 2⁶³; bit 63 is the sign bit.

    Pigeonhole prefilter: with B > t blocks (B = t+1, at least 2), any
    pair within hamming t shares at least one identical block, so the
    block equi-join is a lossless candidate generator; exact hamming
    filters after. A larger t makes narrower blocks and less selective
    join keys; t ≥ 64 (every pair) has no lossless split and is refused.
    """
    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    fps = F.transform(
        tokens_col(normalized_text(F.col(text_col))), char_fp_col
    )
    av = F.array(*[F.lit(a).cast("long") for a, _ in SIMHASH_COEFFS])
    cv = F.array(*[F.lit(c).cast("long") for _, c in SIMHASH_COEFFS])
    one = F.lit(1).cast("long")
    counts = F.aggregate(
        fps,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.transform(
            acc,
            lambda x, i: x
            + F.when(
                ((F.get(av, i) * h + F.get(cv, i)) % MINHASH_P) * 2
                >= MINHASH_P,
                one,
            ).otherwise(-one),
        ),
    )
    sig_col = F.aggregate(
        F.zip_with(
            counts,
            F.sequence(F.lit(0), F.lit(63)),
            # shiftleft via call_function: the bit index is a Column
            lambda c, b: F.when(
                c > 0, F.call_function("shiftleft", one, b)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda s, x: s.bitwiseOR(x),
    )
    sig = docs.select(F.col(id_col).alias("doc_id"), sig_col.alias("sig"))
    n_blocks = max(max_hamming + 1, 2)  # one 64-bit block's mask overflows
    base, rem = divmod(64, n_blocks)
    widths = [base + (i < rem) for i in range(n_blocks)]
    starts = [sum(widths[:i]) for i in range(n_blocks)]
    blk = [
        F.shiftright("sig", at).bitwiseAND(F.lit((1 << w) - 1))
        for at, w in zip(starts, widths)
    ]
    blocks = sig.select(
        "doc_id", "sig", F.posexplode(F.array(*blk)).alias("blk_idx", "blk")
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
