"""LSH recall of the production MinHash by Jaccard bin, against the
S-curve 1-(1-J^r)^b and against an ideal hash family (blake2b, remixed
per hash).

Pairs: corpus_refine texts (perfbench/gen.py, seed 7), each paired with
copies that have 5-30 % of their words replaced, which puts pairs at
5-shingle Jaccard 0.4-1.0 around the S-curve threshold; with
``--docs documents.parquet`` also every pair of its first 200 documents.
Band hashes come from the production UDF body run on Arrow arrays, so
no Spark session starts. Stdlib, numpy and pyarrow only:

    python tools/minhash_recall.py [--docs PATH] [--draws N]
"""

from __future__ import annotations

import argparse
import hashlib
import re
import sys
from itertools import combinations
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

import gen  # noqa: E402
from hiispider_spark.operators import dedup as dd  # noqa: E402

SHAPES = ((32, 8), (16, 4))
EDGES = np.array([0, .1, .2, .3, .4, .5, .6, .7, .8, .9, 1.0001])


def shingles(t: str) -> set[str]:
    k = dd.SHINGLE_K
    return {t[i : i + k] for i in range(max(len(t) - k, 0) + 1)}


def production_bands(texts: list[str], n: int, bands: int) -> np.ndarray:
    out = dd._band_hashes_udf(n, bands).func(pa.array(texts, pa.string()))
    return out.values.to_numpy().reshape(len(texts), bands)


def ideal_sigs(sets: list[set[str]], n: int, draw: int) -> np.ndarray:
    """(text, hash) min-hash signatures of n keyed 64-bit hashes: one
    blake2b per shingle, xor-keyed per hash and remixed (splitmix64)."""
    keys = np.array([dd._mh_splitmix(draw << 32 | i) for i in range(n)],
                    np.uint64)[:, None]
    out = np.empty((len(sets), n), np.uint64)
    for t, s in enumerate(sets):
        x = keys ^ np.array(
            [int.from_bytes(hashlib.blake2b(v.encode(), digest_size=8)
                            .digest(), "little") for v in s], np.uint64)
        for shift, mult in ((30, 0xBF58476D1CE4E5B9), (27, 0x94D049BB133111EB)):
            x = (x ^ (x >> np.uint64(shift))) * np.uint64(mult)
        out[t] = (x ^ (x >> np.uint64(31))).min(axis=1)
    return out


def report(title: str, texts: list[str], pairs: list[tuple[int, int]],
           draws: int) -> None:
    texts = [re.sub(dd.UNIQ_SUFFIX_RE, "", t) for t in texts]
    sets = [shingles(t) for t in texts]
    ia, ib = np.array(pairs).T
    jac = np.array([len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                    for a, b in pairs])
    bins = np.digitize(jac, EDGES) - 1
    for n, bands in SHAPES:
        r = n // bands
        prod = production_bands(texts, n, bands)
        hit_p = (prod[ia] == prod[ib]).any(axis=1)
        hit_i = np.zeros(len(pairs))
        for d in range(draws):
            sig = ideal_sigs(sets, n, d)
            eq = sig[ia] == sig[ib]
            hit_i += eq.reshape(len(pairs), bands, r).all(axis=2).any(axis=1)
        hit_i /= draws
        print(f"\n{title}: {n} hashes / {bands} bands, {len(pairs)} pairs; "
              f"candidates: production {int(hit_p.sum())}, ideal "
              f"{hit_i.sum():.1f} (mean of {draws}), S-curve "
              f"{np.sum(1 - (1 - jac ** r) ** bands):.1f}")
        print(f"{'Jaccard':>11} {'pairs':>7} {'S-curve':>8} {'prod':>6} {'ideal':>6}")
        for k in np.unique(bins):
            m = bins == k
            print(f"[{EDGES[k]:.1f}, {min(EDGES[k + 1], 1):.1f}) {m.sum():7d} "
                  f"{np.mean(1 - (1 - jac[m] ** r) ** bands):8.3f} "
                  f"{hit_p[m].mean():6.3f} {hit_i[m].mean():6.3f}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", help="documents parquet (doc_id, text)")
    ap.add_argument("--draws", type=int, default=3,
                    help="ideal-family draws averaged")
    args = ap.parse_args()

    rng = np.random.default_rng(1)
    corpus = gen.make_corpus(1500, 300, 7).text
    vocab = gen.vocabulary()
    texts, pairs = [], []
    for d in rng.choice(len(corpus), 400, replace=False):
        words = corpus[d].split(" ")
        base = len(texts)
        texts.append(corpus[d])
        for rate in (0.05, 0.1, 0.15, 0.2, 0.3):
            w = list(words)
            for j in rng.choice(len(w), max(1, int(rate * len(w))), replace=False):
                w[j] = str(rng.choice(vocab))
            pairs.append((base, len(texts)))
            texts.append(" ".join(w))
    report("mutated corpus_refine pairs", texts, pairs, args.draws)

    if args.docs:
        t = pq.read_table(args.docs, columns=["doc_id", "text"]).to_pydict()
        docs = [x or "" for i, x in sorted(zip(t["doc_id"], t["text"]))][:200]
        report(f"{args.docs}, first 200 documents", docs,
               list(combinations(range(len(docs)), 2)), args.draws)


if __name__ == "__main__":
    main()
