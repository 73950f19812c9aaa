"""Seeded input generator for the benchmark workloads.

Every input is a pure function of the workload's size constants and the
seed, so the same seed lands the same parquet. A seed changes details
(which pages are seeds, hot or changed; which words a document has),
never the amount of work: counts are fixed fractions of fixed sizes.
Inputs are written with pyarrow, outside Spark, so landing them does not
depend on the program under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the synthetic web: one hot host holds this share of all pages
HOT_SHARE = 0.3
PAGES_PER_HOST = 400
#: crawl delays (s) dealt to the non-hot hosts in a seeded permutation;
#: the hot host's delay is fixed so its grant budget, and with it the
#: amount of deferral, is the same for every seed
DELAYS = (0.5, 1.0, 1.5, 2.0)
HOT_DELAY = 1.0
#: every 7th non-hot host disallows this path prefix
DISALLOW_PREFIX = "/p/1"
SEED_SHARE = 0.1
#: share of pages whose content changes between two recrawl epochs
CHANGE_SHARE = 0.1
DOC_POOL = 2000
#: corpus shares of planted exact duplicates, near duplicates, too-short
#: documents and documents holding a 20-word span of an eval document
DUP_SHARE = 0.05
NEAR_SHARE = 0.05
LOW_SHARE = 0.05
OVERLAP_SHARE = 0.02
EPOCH0_US = 1704067200 * 1_000_000
#: parquet files per landed table, so Spark scans them in parallel
N_FILES = 8


def vocabulary(n: int = 3000) -> np.ndarray:
    """Fixed word list (the same for every seed): unique 2-4 syllable
    lowercase words, no markup characters."""
    syl = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    rng = np.random.default_rng(7)
    words: dict[str, None] = {}
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words["".join(syl[j] for j in rng.integers(0, len(syl), k))] = None
    return np.array(list(words), dtype=object)


def _texts(rng: np.random.Generator, vocab: np.ndarray, lengths) -> list[str]:
    ids = rng.integers(0, len(vocab), int(np.sum(lengths)))
    words = vocab[ids]
    out, at = [], 0
    for n in lengths:
        out.append(" ".join(words[at:at + n]))
        at += n
    return out


def _write(path: str, table: pa.Table) -> None:
    """Land ``table`` as N_FILES parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for f in range(N_FILES):
        part = table.slice(f * step, step)
        pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"))


# ---------------------------------------------------------------- crawl


@dataclass
class Site:
    """A synthetic web of ``n`` pages and the crawl inputs over it.

    ``version[e, i]`` is the content version page ``i`` shows during
    epoch ``e`` (epoch 1 is the first epoch after bootstrap)."""

    n: int
    url: np.ndarray
    host: np.ndarray
    links: np.ndarray
    doc_of: np.ndarray
    docs: list[str]
    version: np.ndarray
    seed_idx: np.ndarray
    seed_priority: np.ndarray
    robots_delay: np.ndarray
    robots_disallow: np.ndarray

    def text(self, idx: np.ndarray, ver: np.ndarray) -> list[str]:
        """Page text of pages ``idx`` at content versions ``ver``."""
        return [
            f"{self.docs[self.doc_of[i]]} r{v} #{i}"
            for i, v in zip(idx.tolist(), ver.tolist())
        ]

    def store(self, epoch: int) -> pa.Table:
        """The page store (url, warc_ts, html, text, lang) as it reads
        during ``epoch``."""
        idx = np.arange(self.n)
        text = self.text(idx, self.version[epoch])
        html = [
            f'<html><body><a href="{self.url[a]}"><a href="{self.url[b]}">'
            f"{t}</body></html>".encode()
            for (a, b), t in zip(self.links.tolist(), text)
        ]
        ts = EPOCH0_US + (idx * 37 % 86400) * 1_000_000
        return pa.table(
            {
                "url": pa.array(self.url.tolist(), pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array(html, pa.binary()),
                "text": pa.array(text, pa.string()),
                "lang": pa.array(["en"] * self.n, pa.string()),
            }
        )

    def seeds(self) -> pa.Table:
        urls = self.url[self.seed_idx].tolist()
        prio = self.seed_priority.tolist()
        # a few non-canonical spellings of seeds exercise canonicalization
        # at bootstrap; they collapse onto their canonical row
        for i in self.seed_idx[:: 100].tolist():
            h = f"h{self.host[i]:04d}.example.org".upper()
            urls.append(f"HTTP://{h}:80/p/{i}#frag")
            prio.append(0.5)
        return pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "priority": pa.array(prio, pa.float64()),
            }
        )

    def robots(self) -> pa.Table:
        rule = pa.struct([("allow", pa.bool_()), ("prefix", pa.string())])
        rules = [
            [{"allow": False, "prefix": DISALLOW_PREFIX},
             {"allow": True, "prefix": "/"}]
            if d else [{"allow": True, "prefix": "/"}]
            for d in self.robots_disallow.tolist()
        ]
        return pa.table(
            {
                "host": pa.array(
                    [f"h{h:04d}.example.org" for h in range(len(rules))],
                    pa.string(),
                ),
                "rules": pa.array(rules, pa.list_(rule)),
                "crawl_delay": pa.array(self.robots_delay, pa.float64()),
            }
        )


def make_site(n: int, n_epochs: int, seed: int, churn: bool) -> Site:
    """Pages, link graph, seed list, robots and per-epoch content versions.

    Page ``i`` links to two seeded random pages. ``churn`` changes a
    seeded CHANGE_SHARE of the pages before every epoch after the first;
    without it every page keeps version 0."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    n_hosts = max(10, n // PAGES_PER_HOST)
    perm = rng.permutation(n)
    n_hot = int(n * HOT_SHARE)
    host = np.empty(n, dtype=np.int64)
    host[perm[:n_hot]] = 0
    host[perm[n_hot:]] = 1 + np.arange(n - n_hot) % (n_hosts - 1)
    url = np.array(
        [f"http://h{h:04d}.example.org/p/{i}" for i, h in enumerate(host)],
        dtype=object,
    )
    delay = np.array(DELAYS * (n_hosts // len(DELAYS) + 1))[: n_hosts - 1]
    robots_delay = np.concatenate([[HOT_DELAY], rng.permutation(delay)])
    robots_disallow = np.zeros(n_hosts, dtype=bool)
    robots_disallow[1 + rng.permutation(n_hosts - 1)[:: 7]] = True
    lengths = rng.integers(40, 120, DOC_POOL)
    docs = _texts(rng, vocab, lengths)
    # recrawl bootstraps the frontier with every page
    n_seeds = n if churn else int(n * SEED_SHARE)
    version = np.zeros((n_epochs + 1, n), dtype=np.int64)
    if churn:
        n_change = int(n * CHANGE_SHARE)
        for e in range(2, n_epochs + 1):
            version[e] = version[e - 1]
            version[e, rng.choice(n, n_change, replace=False)] += 1
    return Site(
        n=n,
        url=url,
        host=host,
        links=rng.integers(0, n, (n, 2)),
        doc_of=rng.integers(0, DOC_POOL, n),
        docs=docs,
        version=version,
        seed_idx=np.sort(rng.choice(n, n_seeds, replace=False)),
        seed_priority=1.0 + rng.integers(0, 10, n_seeds) / 10.0,
        robots_delay=robots_delay,
        robots_disallow=robots_disallow,
    )


def land_site(site: Site, root: str, epochs) -> dict[str, str]:
    """Write seeds, robots and the page store of each epoch in ``epochs``
    (stores that read identically share one landing). Returns table name
    → directory; stores are named ``pages_<epoch>``."""
    paths = {"seeds": f"{root}/seeds", "robots": f"{root}/robots"}
    _write(paths["seeds"], site.seeds())
    _write(paths["robots"], site.robots())
    landed: dict[bytes, str] = {}
    for e in epochs:
        key = site.version[e].tobytes()
        if key not in landed:
            landed[key] = f"{root}/pages_{e}"
            _write(landed[key], site.store(e))
        paths[f"pages_{e}"] = landed[key]
    return paths


# --------------------------------------------------------------- corpus


@dataclass
class Corpus:
    """Documents for the refinement pipeline with planted structure.

    ``dup_of[d]``: the document ``d`` is an exact copy of (-1 if none);
    ``near_of[d]``: the document ``d`` is a near copy of; ``low[d]``:
    planted too short for the quality filter; ``overlap_eval[d]``: the
    eval document whose 20-word span ``d`` contains (-1 if none)."""

    text: list[str]
    dup_of: np.ndarray
    near_of: np.ndarray
    low: np.ndarray
    overlap_eval: np.ndarray
    eval_text: list[str]


def make_corpus(n_docs: int, n_eval: int, seed: int) -> Corpus:
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    text = _texts(rng, vocab, rng.integers(60, 160, n_docs))
    eval_text = _texts(rng, vocab, rng.integers(40, 80, n_eval))
    dup_of = np.full(n_docs, -1)
    near_of = np.full(n_docs, -1)
    low = np.zeros(n_docs, dtype=bool)
    overlap_eval = np.full(n_docs, -1)
    # disjoint roles: the first half of a shuffle are sources, planted
    # documents are drawn from the second half, one role each
    perm = rng.permutation(n_docs)
    sources, targets = perm[: n_docs // 2], perm[n_docs // 2:]
    counts = [int(n_docs * s) for s in
              (DUP_SHARE, NEAR_SHARE, LOW_SHARE, OVERLAP_SHARE)]
    at = 0
    roles = []
    for c in counts:
        roles.append(targets[at:at + c])
        at += c
    dups, nears, lows, overlaps = roles
    for d, s in zip(dups, rng.choice(sources, len(dups))):
        text[d], dup_of[d] = text[s], s
    for d, s in zip(nears, rng.choice(sources, len(nears))):
        words = text[s].split(" ")
        for j in rng.choice(len(words), 2, replace=False):
            words[j] = vocab[rng.integers(0, len(vocab))]
        text[d], near_of[d] = " ".join(words), s
    for d in lows:
        text[d] = " ".join(text[d].split(" ")[:12])
        low[d] = True
    for d, ev in zip(overlaps, rng.integers(0, n_eval, len(overlaps))):
        span = eval_text[ev].split(" ")[:20]
        words = text[d].split(" ")
        cut = int(rng.integers(0, len(words)))
        text[d] = " ".join(words[:cut] + span + words[cut:])
        overlap_eval[d] = ev
    return Corpus(text, dup_of, near_of, low, overlap_eval, eval_text)


def land_corpus(corpus: Corpus, root: str) -> dict[str, str]:
    paths = {"docs": f"{root}/docs", "eval": f"{root}/eval"}
    _write(
        paths["docs"],
        pa.table(
            {
                "doc_id": pa.array(np.arange(len(corpus.text)), pa.int64()),
                "text": pa.array(corpus.text, pa.string()),
            }
        ),
    )
    _write(
        paths["eval"],
        pa.table(
            {
                "eval_id": pa.array(
                    np.arange(len(corpus.eval_text)), pa.int64()
                ),
                "text": pa.array(corpus.eval_text, pa.string()),
            }
        ),
    )
    return paths
