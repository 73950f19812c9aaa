"""Dedup operators: exact groups, n-gram Jaccard, MinHash/LSH, SimHash."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hiispider_spark.operators import dedup as dd


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    docs = _docs(
        spark,
        [
            (1, "alpha beta"),
            (2, "alpha beta"),
            (3, "alpha beta #42"),  # uniqueness suffix is normalized away
            (4, "gamma delta"),
        ],
    )
    got = {
        r.keep_doc_id: r.n_copies
        for r in dd.exact_dedup_groups(docs, "doc_id", "text").collect()
    }
    assert got == {1: 3, 4: 1}


def test_ngram_jaccard_exact_values(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c d e"),          # bigrams: ab bc cd de
            (2, "a b c d x"),          # bigrams: ab bc cd dx  → |∩|=3 |∪|=5
            (3, "zz yy"),
        ],
    )
    rows = dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert abs(r.jaccard - 3 / 5) < 1e-9


def test_minhash_identical_docs_collide_in_all_bands(spark):
    docs = _docs(spark, [(1, "the quick brown fox " * 5), (2, "the quick brown fox " * 5)])
    rows = dd.minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=32, bands=8).collect()
    assert len(rows) == 1
    assert rows[0].n_bands_hit == 8


def test_minhash_near_dup_collides_somewhere(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    docs = _docs(spark, [(1, base), (2, base + "tail"), (3, "completely different words entirely")])
    pairs = {(r.doc_a, r.doc_b) for r in dd.minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_zero_hamming(spark):
    docs = _docs(spark, [(1, "w1 w2 w3 w4 w5 w6"), (2, "w1 w2 w3 w4 w5 w6")])
    rows = dd.simhash_near_dups(docs, "doc_id", "text", max_hamming=0).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in rows] == [(1, 2, 0)]


def test_simhash_near_dup_small_hamming(spark):
    words = " ".join(f"tok{i}" for i in range(60))
    docs = _docs(spark, [(1, words), (2, words + " extra"), (3, " ".join(f"z{i}" for i in range(60)))])
    rows = {(r.doc_a, r.doc_b): r.hamming for r in dd.simhash_near_dups(docs, "doc_id", "text", max_hamming=10).collect()}
    assert (1, 2) in rows
    assert (1, 3) not in rows


def test_pages_corpus_dup_structure(spark, tiny_pages):
    """The synthetic corpus collapses to its source documents after
    normalization — n_pages/n_docs copies per group."""
    pages = tiny_pages.select(F.col("i").alias("doc_id"), "text")
    groups = dd.exact_dedup_groups(pages, "doc_id", "text")
    assert groups.count() == 400  # 400 pages over 500 docs → 400 groups
    assert groups.agg(F.max("n_copies")).first()[0] == 1


def _ref_shingles(t, k=dd.SHINGLE_K):
    return list(dict.fromkeys(t[i : i + k] for i in range(max(len(t) - k, 0) + 1)))


def _ref_fp(s):
    acc = 7
    for ch in s:
        acc = (acc * 31 + ord(ch)) % dd.MINHASH_P
    return acc


def _ref_simhash(t):
    """Pure-Python 64-bit SimHash of the portable family: bit b is set
    when most tokens have 2·((a_b·fp + c_b) mod p) ≥ p. None for null."""
    if t is None:
        return None
    toks = [w for w in re.sub(dd.UNIQ_SUFFIX_RE, "", t).split(" ") if w]
    sig = 0
    for b, (a, c) in enumerate(dd.SIMHASH_COEFFS):
        votes = sum(
            1 if (a * _ref_fp(w) + c) % dd.MINHASH_P * 2 >= dd.MINHASH_P else -1
            for w in toks
        )
        if votes > 0:
            sig |= 1 << b
    return sig


def test_simhash_matches_python_reference(spark):
    """simhash_near_dups returns exactly the pairs, and hammings, of an
    independent pure-Python SimHash: signatures that set bit 63 (the
    sign bit of Spark's long), the uniqueness suffix, empty and null
    texts, CJK and a character above U+FFFF. At t = 40 the block
    prefilter splits 64 bits into 41 blocks and must still lose no
    pair."""
    import itertools

    words = " ".join(f"tok{i}" for i in range(60))
    texts = {
        1: words,
        2: words + " extra",
        3: " ".join(f"z{i}" for i in range(60)),
        4: "alpha beta gamma",
        5: "hello world #17",
        6: "hello world",
        7: "",
        8: None,
        9: "漢字 かな",
        10: "a😀b c",
        11: "  spaced   out  ",
        12: "x",
    }
    sigs = {d: _ref_simhash(t) for d, t in texts.items()}
    assert sigs[4] >> 63 and sigs[6] >> 63 and not sigs[1] >> 63
    docs = _docs(spark, sorted(texts.items()))
    for t in (10, 40):
        got = {
            (r.doc_a, r.doc_b): r.hamming
            for r in dd.simhash_near_dups(docs, "doc_id", "text", t).collect()
        }
        expected = {}
        for a, b in itertools.combinations(sorted(texts), 2):
            if sigs[a] is not None and sigs[b] is not None:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= t:
                    expected[(a, b)] = h
        assert got == expected
    assert got[(1, 2)] == 6 and got[(5, 6)] == 0
    with pytest.raises(ValueError):
        dd.simhash_near_dups(docs, "doc_id", "text", 64)


def _ref_band_vals(t, n_hashes, bands):
    """Pure-Python band hashes of the portable family: [(band, hash)]."""
    fps = [_ref_fp(s) for s in _ref_shingles(t or "")]
    sig = [
        min((a * x + b) % dd.MINHASH_P for x in fps)
        for a, b in dd.minhash_coeffs(n_hashes)
    ]
    rpb = len(sig) // bands
    out = []
    for b in range(bands):
        acc = 7
        for r in range(rpb):
            acc = (acc * 31 + sig[b * rpb + r]) % dd.MINHASH_P
        out.append((b, acc))
    return out


def test_minhash_portable_matches_python_reference(spark):
    """MinHash+LSH over the portable hash family reproduces an
    independent pure-Python computation bit-for-bit, pairs and every
    band hash, edge texts included: empty, null (hashes like ""),
    shorter than k, exactly k, CJK, a character above U+FFFF, and a
    1.1M-character text that spans many signature chunks in one Arrow
    batch with the short ones."""
    import itertools
    import random
    from collections import Counter

    rng = random.Random(5)
    words = ["".join(rng.choice("abcdefghij") for _ in range(rng.randint(2, 7)))
             for _ in range(300)]
    long_text = " ".join(rng.choice(words) for _ in range(200_000))
    assert len(long_text) > 1_000_000
    texts = {
        0: "abcdefgh",
        1: "abcdefgx",
        2: "zzzzzzzz",
        3: "ab",
        4: "abcdefgh",  # exact copy of 0 → must collide in every band
        5: "",
        6: None,
        7: "abcde",
        8: "漢字かな交じり文の例",
        9: "a😀bcde😀fg",
        10: "😀",
        11: long_text,
        12: long_text[:70_000] + "😀 tail",
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    ).coalesce(1)
    for n_hashes, bands in [(8, 2), (32, 8)]:
        got = {
            (r.doc_a, r.doc_b): r.n_bands_hit
            for r in dd.minhash_lsh_pairs(
                docs, "doc_id", "text", n_hashes=n_hashes, bands=bands
            ).collect()
        }
        bv = {d: _ref_band_vals(t, n_hashes, bands) for d, t in texts.items()}
        expected = Counter()
        for a, b in itertools.combinations(sorted(texts), 2):
            hits = sum(1 for x, y in zip(bv[a], bv[b]) if x == y)
            if hits:
                expected[(a, b)] = hits
        assert got == dict(expected)
        assert got[(0, 4)] == bands  # identical texts collide in every band
        assert got[(5, 6)] == bands  # null hashes like ""
        stacked = dd._minhash_bands(docs, "doc_id", "text", n_hashes, bands)
        assert {(r.doc_id, r.band_idx): r.bh for r in stacked.collect()} == {
            (d, b): h for d, vals in bv.items() for b, h in vals
        }


# ---- hot-bucket cap (boilerplate blowup guard) -------------------------

def _boilerplate(spark, n, family="all work and no play makes a dull crawl "):
    # ' #%d' is the corpus uniqueness suffix — normalized away, so all n
    # docs share every shingle, every signature, every band bucket
    return _docs(spark, [(i, f"{family * 3}#{i}") for i in range(n)])


@pytest.mark.parametrize("n_hashes,bands,cap", [(32, 8, 16), (16, 4, 8)])
def test_bucket_cap_bounds_boilerplate_candidates(spark, n_hashes, bands, cap):
    """A planted boilerplate family lands in ONE bucket per band;
    uncapped the self-join mints O(n²) pairs, capped it is O(cap²) —
    with the kept set deterministic (lowest doc_ids)."""
    docs = _boilerplate(spark, 1000)
    capped = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=n_hashes, bands=bands, bucket_cap=cap
    ).collect()
    # cap kept docs → C(cap,2) pairs, every pair hitting every band
    assert len(capped) == cap * (cap - 1) // 2
    assert all(r.n_bands_hit == bands for r in capped)
    ids = {r.doc_a for r in capped} | {r.doc_b for r in capped}
    assert ids == set(range(cap))  # deterministic keep: lowest doc_ids
    # O(cap·n·bands) candidate bound, vs ~500k uncapped
    assert len(capped) <= cap * 1000 * bands


def test_bucket_cap_overflow_is_observable(spark):
    """No silent caps: band_bucket_overflow reports exactly what the
    cap discards (8 bands × one hot bucket × (n - cap) docs)."""
    docs = _boilerplate(spark, 300)
    stacked = dd._minhash_bands(docs, "doc_id", "text", n_hashes=32, bands=8)
    ov = dd.band_bucket_overflow(stacked, bucket_cap=50).collect()
    assert len(ov) == 8  # one hot bucket per band
    assert all(r.n_docs == 300 and r.n_dropped == 250 for r in ov)


def test_bucket_cap_noop_below_cap_and_logs_above(spark, caplog):
    """Cap never binding → byte-identical output to uncapped (the
    oracle-safety property); log_dropped WARNs when it does bind."""
    import logging as _logging

    docs = _docs(
        spark,
        [(1, "alpha beta gamma delta " * 4), (2, "alpha beta gamma delta " * 4),
         (3, "omega psi chi phi " * 4)],
    )
    base = sorted(
        (r.doc_a, r.doc_b, r.n_bands_hit)
        for r in dd.minhash_lsh_pairs(
            docs, "doc_id", "text", bucket_cap=None
        ).collect()
    )
    capped = sorted(
        (r.doc_a, r.doc_b, r.n_bands_hit)
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    )
    assert base == capped
    boiler = _boilerplate(spark, 60)
    with caplog.at_level(_logging.WARNING, logger="hiispider_spark.operators.dedup"):
        dd.minhash_lsh_pairs(
            boiler, "doc_id", "text", bucket_cap=8, log_dropped=True
        ).count()
    assert any("bucket_cap=8 dropped" in m for m in caplog.messages)


def test_bucket_cap_plan_uses_window_group_limit(spark):
    """The rank<=cap filter must compile to WindowGroupLimit — a hot
    bucket bounds map-side BEFORE the shuffle, never fully sorts."""
    import io
    from contextlib import redirect_stdout

    docs = _boilerplate(spark, 50)
    df = dd.minhash_lsh_pairs(docs, "doc_id", "text", bucket_cap=16)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "WindowGroupLimit" in buf.getvalue()
