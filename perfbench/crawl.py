"""The two crawl workloads, driven through ``plans.epoch`` and
``IcebergLike``: ``crawl_discover`` (a discovery crawl from a seeded
10 % seed list) and ``recrawl_churn`` (revisits of a frontier holding
every page while a seeded 10 % of pages change between epochs).

The crawl is a closed loop with one client: the next epoch starts only
after the previous one committed. Output checks run between epochs,
outside the timed epoch walls.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np

import gen

PAGES = 20_000
#: frontier buckets = shuffle partitions: two per core of a 4-core host
PARTITIONS = 8
#: long enough that every non-hot host's budget covers all its pages,
#: so only the hot host defers (as in the repository's bench.py)
EPOCH_SECONDS = 600.0
#: fold the frontier (and compact page_cache / politeness) every second
#: epoch, so that the timed epochs always contain a fold
COMPACT_EVERY = 2
#: a fixed count, not one that depends on --seconds or on speed: every
#: run, on any commit, times one ordinary epoch and one that folds
TIMED_EPOCHS = 2
#: bootstraps into fresh catalogs; set-up reports their median
BOOTSTRAPS = 3
BLOOM_BITS = 1 << 20
#: event-log task metric → per-layer metric name
MOVEMENT = (
    ("sw", "shuffle.bytes_written"), ("sr", "shuffle.bytes_read"),
    ("spill", "spill.bytes"), ("cpu", "task.cpu_s"), ("gc", "gc.s"),
)
WRITE_TABLES = (
    "frontier", "page_cache", "politeness", "neg_cache", "extracted",
    "lineage", "seen_set",
)


def config(churn: bool):
    from hiispider_spark.plans.epoch import EpochConfig

    return EpochConfig(
        k_per_partition=1 << 17,
        n_partitions=PARTITIONS,
        bloom_m_bits=BLOOM_BITS,
        epoch_seconds=EPOCH_SECONDS,
        # recrawl: the whole frontier is due again every epoch
        interval_s=int(EPOCH_SECONDS) if churn else 3600,
        follow_links=not churn,
        state_deltas=True,
        compact_every=COMPACT_EVERY,
        collect_stats=True,
    )


def dir_bytes(root: str) -> tuple[int, set[str]]:
    total, files = 0, set()
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            total += os.path.getsize(p)
            files.add(p)
    return total, files


class CrawlCheck:
    """Output checks of every epoch against the generator's ground truth.

    The epoch's fetched pages are the page_cache rows whose poll count
    rose; a fetched page must be extracted exactly when its content
    version differs from the version last fetched (or it was never
    fetched), and its extracted text must equal that version's text."""

    def __init__(self, site: gen.Site):
        self.site = site
        self.last_ver = np.full(site.n, -1)
        self.polls = None
        self.failures: list[str] = []
        self.digest = hashlib.sha256()

    def epoch(self, cat, e: int, st: dict) -> bool:
        from pyspark.sql import functions as F

        fails = []
        fr = cat.read("frontier").select("url", "url_hash").toPandas()
        if not fr["url_hash"].is_unique:
            fails.append("frontier url_hash not unique")
        if len(fr) != cat.row_count("frontier"):
            fails.append(
                f"frontier rows {len(fr)} != row_count "
                f"{cat.row_count('frontier')}"
            )
        pc = cat.read("page_cache").select("url_hash", "n_polls").toPandas()
        prev = (
            pc["url_hash"].map(self.polls).fillna(0)
            if self.polls is not None else 0
        )
        fetched_h = set(pc.loc[pc["n_polls"] > prev, "url_hash"])
        self.polls = dict(zip(pc["url_hash"], pc["n_polls"]))
        fr_idx = fr["url"].str.rsplit("/", n=1).str[1].astype(np.int64)
        fetched = np.sort(fr_idx[fr["url_hash"].isin(fetched_h)].to_numpy())
        lin = (
            cat.read("lineage").filter(F.col("epoch") == e)
            .agg(F.sum("n_fetched").alias("f"), F.sum("n_errors").alias("x"))
            .first()
        )
        n_fetched, n_errors = int(lin["f"] or 0), int(lin["x"] or 0)
        if not (
            st["n_granted"] == st["n_fetched"] + n_errors
            and n_fetched == st["n_fetched"] == len(fetched)
        ):
            fails.append(
                f"granted {st['n_granted']} != fetched {st['n_fetched']} "
                f"+ failed {n_errors} (lineage fetched {n_fetched}, "
                f"page_cache fetched {len(fetched)})"
            )
        if n_errors:
            fails.append(f"{n_errors} fetches failed")
        ver = self.site.version[e]
        changed = fetched[self.last_ver[fetched] != ver[fetched]]
        self.last_ver[fetched] = ver[fetched]
        ex = (
            cat.read("extracted").filter(F.col("epoch") == e)
            .select("url", "text").toPandas()
        )
        ex_idx = ex["url"].str.rsplit("/", n=1).str[1].astype(np.int64)
        if set(ex_idx) != set(changed.tolist()) or len(ex) != st["n_extracted"]:
            fails.append(
                f"extracted {len(ex)} pages, expected the {len(changed)} "
                "changed pages that were fetched"
            )
        want = self.site.text(ex_idx.to_numpy(), ver[ex_idx.to_numpy()])
        bad = int(np.sum(ex["text"].to_numpy() != np.array(want, dtype=object)))
        if bad:
            fails.append(f"{bad} extracted texts differ from the page store")
        self.digest.update(
            f"{e}:".encode() + "\n".join(sorted(ex["url"])).encode()
        )
        self.failures += [f"epoch {e}: {f}" for f in fails]
        return not fails


def run(spark, work: str, seed: int, tracer, churn: bool) -> dict:
    from hiispider_spark.plans.epoch import bootstrap, run_epoch
    from hiispider_spark.sources.catalog import IcebergLike

    n_versions = TIMED_EPOCHS + (1 if churn else 0)
    site = gen.make_site(PAGES, n_versions, seed, churn)
    t = time.time()
    paths = gen.land_site(site, f"{work}/in", range(1, n_versions + 1))
    land_s = time.time() - t
    pages = {
        e: spark.read.parquet(paths[f"pages_{e}"])
        for e in range(1, n_versions + 1)
    }
    robots = spark.read.parquet(paths["robots"]).persist()
    robots.count()
    seeds = spark.read.parquet(paths["seeds"])
    cfg = config(churn)

    boot_s = []
    for b in range(BOOTSTRAPS):
        root = f"{work}/catalog{b}"
        if b:
            shutil.rmtree(f"{work}/catalog{b - 1}")
        cat = IcebergLike(spark, root)
        t = time.time()
        bootstrap(spark, cat, seeds, cfg)
        boot_s.append(time.time() - t)
    check = CrawlCheck(site)
    prime_s = 0.0
    if churn:
        # priming epoch: fills page_cache so timed epochs are revisits
        t = time.time()
        st = run_epoch(spark, cat, pages[1], robots, cfg)
        prime_s = time.time() - t
        check.epoch(cat, 1, st)

    tracer.enabled = tracer.installed
    epochs: list[dict] = []
    size = cat.row_count("frontier")
    for _ in range(TIMED_EPOCHS):
        e = cat.epoch + 1
        before = dir_bytes(root) if tracer.enabled else None
        with tracer.root("epoch", e) as span:
            t = time.time()
            st = run_epoch(spark, cat, pages[e], robots, cfg)
            wall = time.time() - t
        st["wall"] = wall
        st["start"] = t
        st["span"] = span
        st["inserted"] = st["frontier_size"] - size
        size = st["frontier_size"]
        if before is not None:
            after = dir_bytes(root)
            new = after[1] - before[1]
            st["bytes_written"] = sum(os.path.getsize(p) for p in new)
            st["files_written"] = len(new)
        st["ok"] = check.epoch(cat, e, st)
        epochs.append(st)
    tracer.enabled = False
    disk = dir_bytes(root)[0]

    if not churn:
        if any(s["inserted"] <= 0 for s in epochs):
            check.failures.append("discovery inserted nothing in an epoch")
        if not any("frontier" in s["compacted"] for s in epochs):
            check.failures.append("no frontier fold in the timed epochs")
    walls = [s["wall"] for s in epochs]
    fetched = sum(s["n_fetched"] for s in epochs)
    failed = sum(not s["ok"] for s in epochs)
    result = {
        "epochs": epochs,
        "attempted": len(epochs),
        # a run-level check (growth, fold) that fails counts one epoch
        "failed": max(failed, 1) if check.failures else 0,
        "failures": check.failures,
        "digest": check.digest.hexdigest()[:16],
        "setup": {
            "land_s": land_s,
            "bootstrap_s": statistics.median(boot_s),
            "prime_s": prime_s,
        },
        "e2e": {
            "items_per_s": fetched / sum(walls),
            "step_s.p50": statistics.median(walls),
            "step_s.max": max(walls),
            "disk_mb": disk / 1e6,
        },
        "log": [
            {k: s[k] for k in (
                "epoch", "wall", "n_dequeued", "n_granted", "n_fetched",
                "n_extracted", "inserted", "frontier_size", "compacted",
                "phase_walls", "write_walls",
            )}
            for s in epochs
        ],
    }
    if tracer.installed:
        result["layers"] = _layers(tracer, epochs, spark, churn)
    return result


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _layers(tracer, epochs: list[dict], spark, churn: bool) -> dict:
    """Per-layer numbers of the timed epochs (means per epoch)."""
    from spans import epoch_table

    tables = [epoch_table(tracer, s["span"], s["phase_walls"]) for s in epochs]
    for s, tb in zip(epochs, tables):
        s["table"] = tb
    span_sum = lambda s, name: sum(  # noqa: E731
        sp.end - sp.start for sp in tracer.spans
        if sp.epoch == s["epoch"] and sp.name == name
    )
    plan_names = lambda tb: [  # noqa: E731
        k for k in tb["self_s"]
        if not k.startswith("epoch.") and k != "unaccounted"
        and (not k.startswith("catalog.") or k.startswith("catalog.read"))
    ]
    n_links = sum(2 * s["n_extracted"] for s in epochs) if not churn else 0
    out = {
        "epoch.dequeue_s": _mean(s["phase_walls"].get("dequeue", 0) for s in epochs),
        "epoch.politeness_fetch_s": _mean(
            s["phase_walls"].get("politeness_fetch", 0) for s in epochs),
        "epoch.extract_s": _mean(s["phase_walls"].get("extract", 0) for s in epochs),
        "epoch.links_seen_s": _mean(
            s["phase_walls"].get("links_seen", 0) for s in epochs),
        "epoch.writes_s": _mean(s["phase_walls"].get("writes", 0) for s in epochs),
        "epoch.plan_build_s": _mean(
            sum(tb["self_s"][k] for k in plan_names(tb)) for tb in tables),
        "epoch.unaccounted_s": _mean(tb["self_s"]["unaccounted"] for tb in tables),
        "frontier.dequeued": _mean(s["n_dequeued"] for s in epochs),
        "frontier.inserted": _mean(s["inserted"] for s in epochs),
        "frontier.size": float(epochs[-1]["frontier_size"]),
        "politeness.granted_ratio": sum(s["n_granted"] for s in epochs)
        / max(1, sum(s["n_dequeued"] for s in epochs)),
        "fetch.fetched": _mean(s["n_fetched"] for s in epochs),
        "fetch.failed": _mean(s["n_granted"] - s["n_fetched"] for s in epochs),
        "fetch.changed_ratio": sum(s["n_extracted"] for s in epochs)
        / max(1, sum(s["n_fetched"] for s in epochs)),
        "extract.docs": _mean(s["n_extracted"] for s in epochs),
        "seen.insert_ratio": (
            sum(s["inserted"] for s in epochs) / n_links if n_links else 0.0
        ),
        "catalog.fold_s": _mean(
            span_sum(s, "catalog.stage_upsert_fold") for s in epochs),
        "catalog.compact_s": _mean(span_sum(s, "catalog.compact") for s in epochs),
        "catalog.commit_s": _mean(span_sum(s, "catalog.commit") for s in epochs),
        "catalog.vacuum_s": _mean(span_sum(s, "catalog.vacuum") for s in epochs),
        "catalog.folds": _mean(
            float("frontier" in s["compacted"]) for s in epochs),
        "catalog.bytes_written": _mean(s["bytes_written"] for s in epochs),
        "catalog.files_written": _mean(s["files_written"] for s in epochs),
    }
    for tbl in WRITE_TABLES:
        out[f"catalog.write_s.{tbl}"] = _mean(
            s["write_walls"].get(tbl, 0.0) for s in epochs
        )
    out["_tables"] = [
        {"epoch": s["epoch"], **s["table"]} for s in epochs
    ]
    return out


def add_data_movement(layers: dict, epochs: list[dict], jobs, tasks) -> None:
    """Event-log task metrics per timed epoch (means), attributed to
    run_epoch phases by call site."""
    from spans import data_movement, mark_lines

    marks = mark_lines()
    per = []
    for s in epochs:
        bounds, t = [], s["start"]
        for name, dur in s["phase_walls"].items():
            bounds.append((name, t, t + dur))
            t += dur
        per.append(
            data_movement(jobs, tasks, s["start"], s["start"] + s["wall"],
                          bounds, marks)
        )
    for tb, p in zip(layers.get("_tables", []), per):
        tb["jobs_by_phase"] = p["jobs_by_phase"]
    layers["epoch.jobs"] = _mean(p["jobs"] for p in per)
    layers["politeness.task_skew"] = _mean(p["skew"] for p in per)
    for key, name in MOVEMENT:
        layers[name] = _mean(p[key] for p in per)
