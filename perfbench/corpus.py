"""The ``corpus_refine`` workload: the batch refinement pipeline over a
generated document set with planted exact duplicates, near duplicates,
too-short documents and n-gram overlaps with an eval set.

One pass runs six stages, each an eager write of its output to a sink
so that every stage is timed on its own:

    textstats.document_profile → quality.gopher_signals →
    dedup.exact_dedup_groups → dedup.minhash_lsh_pairs →
    clusters.dedup_clusters + dedup_survivors (over the LSH sink) →
    contamination.decontaminate
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen
from crawl import dir_bytes

DOCS = 1_500
EVAL_DOCS = 300
#: the untimed warm-up pass runs on a corpus this much smaller: it pays
#: the first-use costs (code generation, JIT, Python worker start) that
#: do not grow with the input, at a fraction of a full pass
WARM_SHRINK = 10
#: timed passes: a fixed count, so every run on every commit times the
#: same work (one pass keeps a run under a minute on a 4-core host)
PASSES = 1
#: landings of the input; set-up reports their median
LANDINGS = 3
STAGES = (
    "textstats", "quality", "dedup.exact", "dedup.lsh", "clusters",
    "contamination",
)


def _stage_jobs(spark, docs, evals, sink: str):
    from hiispider_spark.operators import (
        clusters, contamination, dedup, quality, textstats,
    )

    def lsh_clusters():
        pairs = spark.read.parquet(f"{sink}/dedup.lsh")
        ids = docs.select("doc_id")
        cl = clusters.dedup_clusters(ids, pairs)
        return clusters.dedup_survivors(ids, cl)

    return {
        "textstats": lambda: textstats.document_profile(docs, "doc_id", "text"),
        "quality": lambda: quality.gopher_signals(docs, "doc_id", "text"),
        "dedup.exact": lambda: dedup.exact_dedup_groups(docs, "doc_id", "text"),
        "dedup.lsh": lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text"),
        "clusters": lsh_clusters,
        "contamination": lambda: contamination.decontaminate(
            docs, evals, "doc_id", "text", "eval_id", "text"
        ).select("doc_id", "contaminated"),
    }


def run_pass(spark, docs, evals, sink: str, tracer) -> dict[str, dict]:
    """One pipeline pass; returns per-stage (start, wall)."""
    out = {}
    for name, build in _stage_jobs(spark, docs, evals, sink).items():
        with tracer.root(name, None):
            t = time.time()
            build().write.mode("overwrite").parquet(f"{sink}/{name}")
            out[name] = {"start": t, "wall": time.time() - t}
    return out


def check_pass(spark, corpus: gen.Corpus, sink: str) -> tuple[dict, dict]:
    """(stage → failure text or "", counts) for one pass's sinks."""
    read = lambda name: spark.read.parquet(f"{sink}/{name}").toPandas()  # noqa: E731
    fails = {s: "" for s in STAGES}
    counts = {}
    n = len(corpus.text)

    prof = read("textstats")
    if len(prof) != n or not prof["doc_id"].is_unique:
        fails["textstats"] = f"{len(prof)} profiles for {n} documents"

    q = read("quality").set_index("doc_id")
    low = np.flatnonzero(corpus.low)
    if len(q) != n or q.loc[low, "keep"].any():
        fails["quality"] = "a planted too-short document was kept"
    counts["quality.kept_ratio"] = float(q["keep"].mean())

    ex = read("dedup.exact")
    removed = int((ex["n_copies"] - 1).sum())
    planted = int(np.sum(corpus.dup_of >= 0))
    if removed != planted:
        fails["dedup.exact"] = (
            f"exact dedup removed {removed}, planted {planted} duplicates"
        )

    pairs = read("dedup.lsh")
    counts["dedup.lsh_pairs"] = float(len(pairs))
    pair_set = set(zip(pairs["doc_a"], pairs["doc_b"]))
    for d in np.flatnonzero(corpus.dup_of >= 0):
        a, b = sorted((int(d), int(corpus.dup_of[d])))
        if (a, b) not in pair_set:
            fails["dedup.lsh"] = f"exact duplicate pair {(a, b)} missing"
            break

    surv = read("clusters").set_index("doc_id")
    kept = surv["keep"]
    counts["dedup.removed_ratio"] = float(1.0 - kept.mean())
    groups: dict[int, list[int]] = {}
    for d in np.flatnonzero(corpus.dup_of >= 0):
        groups.setdefault(int(corpus.dup_of[d]), [int(corpus.dup_of[d])]).append(
            int(d)
        )
    for members in groups.values():
        if int(kept.loc[members].sum()) != 1 and not (
            int(kept.loc[members].sum()) == 0
            and surv.loc[members, "cluster"].nunique() == 1
        ):
            fails["clusters"] = f"duplicate group {members} kept != 1 copy"
            break

    con = read("contamination")
    flagged = set(con.loc[con["contaminated"], "doc_id"])
    planted_o = set(np.flatnonzero(corpus.overlap_eval >= 0).tolist())
    if flagged != planted_o:
        fails["contamination"] = (
            f"flagged {len(flagged)} documents, planted {len(planted_o)}"
        )
    return fails, counts


def run(spark, work: str, seed: int, tracer) -> dict:
    corpus = gen.make_corpus(DOCS, EVAL_DOCS, seed)
    land = []
    for k in range(LANDINGS):
        t = time.time()
        paths = gen.land_corpus(corpus, f"{work}/in{k}")
        land.append(time.time() - t)
    docs = spark.read.parquet(paths["docs"])
    evals = spark.read.parquet(paths["eval"])
    t = time.time()
    warm = gen.land_corpus(
        gen.make_corpus(DOCS // WARM_SHRINK, EVAL_DOCS // WARM_SHRINK, seed),
        f"{work}/warm_in",
    )
    run_pass(spark, spark.read.parquet(warm["docs"]),
             spark.read.parquet(warm["eval"]), f"{work}/warm", tracer)
    warm_s = time.time() - t

    tracer.enabled = tracer.installed
    passes, failures, counts = [], [], {}
    attempted = failed = 0
    for _ in range(PASSES):
        sink = f"{work}/sink{len(passes)}"
        p = run_pass(spark, docs, evals, sink, tracer)
        fails, counts = check_pass(spark, corpus, sink)
        attempted += len(fails)
        failed += sum(bool(f) for f in fails.values())
        failures += [f"pass {len(passes)}: {f}" for f in fails.values() if f]
        passes.append(p)
    tracer.enabled = False
    disk = dir_bytes(f"{work}/sink0")[0]

    pass_walls = [sum(s["wall"] for s in p.values()) for p in passes]
    stage_walls = [s["wall"] for p in passes for s in p.values()]
    result = {
        "passes": len(passes),
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "setup": {
            "land_s": statistics.median(land),
            "warmup_s": warm_s,
        },
        "e2e": {
            "items_per_s": DOCS / statistics.median(pass_walls),
            "step_s.p50": statistics.median(stage_walls),
            "step_s.max": statistics.median(
                max(s["wall"] for s in p.values()) for p in passes
            ),
            "disk_mb": disk / 1e6,
        },
        "log": [
            {k: round(v["wall"], 4) for k, v in p.items()} for p in passes
        ],
        "windows": [
            (min(s["start"] for s in p.values()),
             max(s["start"] + s["wall"] for s in p.values()))
            for p in passes
        ],
    }
    if tracer.installed:
        layers = {
            f"{name}.s" if not name.startswith("dedup.") else f"{name}_s":
            statistics.median(p[name]["wall"] for p in passes)
            for name in STAGES
        }
        layers.update(counts)
        result["layers"] = layers
    return result
