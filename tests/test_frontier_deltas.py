"""Merge-on-read frontier delta commits (the true 10^10 write shape).

Partition-level overwrite rewrites O(frontier) when every bucket
dequeues every epoch (the steady state of a real crawl). Delta commits
write only the epoch's CHANGED rows (requeued + backoff + denied +
inserted); reads resolve newest-key-wins with a broadcast anti-join;
compaction folds deltas back into bucket files. These tests pin:

- exact equivalence with the partition-overwrite commit path this one
  replaced, over three epochs, against state frozen from that path in
  tests/golden/commit_state_tiny.json,
- write amplification: a delta epoch adds ONE delta file set and leaves
  every base bucket file untouched,
- compaction preserves state and clears deltas inside the transaction,
- the fold trigger counts each keyed table's change-set rows exactly,
- catalog-level upsert semantics (newest delta wins, inserts land,
  untouched base rows survive), staged invisibility + rollback, a fold
  refusing duplicate keys, missing manifest counts raising,
- refusing a partition overwrite that would silently drop deltas.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import tempfile
from dataclasses import replace
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hiispider_spark import schemas
from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
from hiispider_spark.schemas import FRONTIER
from hiispider_spark.sources.catalog import MERGE_KEYS, IcebergLike

DELTA_CFG = EpochConfig(
    k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17,
    epoch_seconds=60.0, compact_every=100,
)

#: Per-epoch state of three DELTA_CFG epochs on the tiny corpus, frozen
#: from the partition-overwrite commit path (``state_deltas=False``)
#: before that path was removed; see ``_commit_state`` for the content.
GOLDEN = Path(__file__).parent / "golden" / "commit_state_tiny.json"
GOLDEN_STATS = (
    "n_dequeued", "n_fetched", "n_extracted", "n_granted", "frontier_size",
)
STATE_TABLES = ("frontier", "page_cache", "politeness")


def _mk_cat(spark, seeds, cfg, prefix):
    root = tempfile.mkdtemp(prefix=prefix)
    cat = IcebergLike(spark, root)
    bootstrap(spark, cat, seeds, cfg)
    return cat


def _frontier_rows(cat):
    return sorted(
        (r.url_hash, r.url, r.part_id, str(r.next_fetch_ts), r.retry_count,
         r.state, r.priority, r.plugin)
        for r in cat.read("frontier").collect()
    )


def _manifest_entry(cat, name="frontier"):
    with open(os.path.join(cat.root, "manifest.json")) as f:
        return json.load(f)["tables"][name]


def _table_rows(df, cols):
    def val(v):
        return str(v) if isinstance(v, datetime.datetime) else v

    rows = [[val(r[c]) for c in cols] for r in df.select(*cols).collect()]
    return sorted(rows, key=json.dumps)


def _commit_state(cat, stats):
    """Committed state after an epoch: its counters, every keyed state
    table's rows, the seen_exact hash set and the extracted facts."""
    state = {"stats": {k: stats[k] for k in GOLDEN_STATS}}
    for t in STATE_TABLES:
        state[t] = _table_rows(cat.read(t), schemas.ALL_TABLES[t].fieldNames())
    state["seen_exact"] = sorted(
        {r.url_hash for r in cat.read("seen_exact").collect()}
    )
    state["extracted"] = _table_rows(
        cat.read("extracted"), ["url_hash", "epoch", "content_sha1"]
    )
    return state


def _golden_text(states):
    """Canonical JSON of per-epoch states: sorted keys, one table row
    per line, so a diff of the golden file reads row by row."""
    def value(v):
        if isinstance(v, list) and v:
            rows = ",\n".join(f"   {json.dumps(r)}" for r in v)
            return f"[\n{rows}\n  ]"
        return json.dumps(v, sort_keys=True)

    epochs = [
        " {\n"
        + ",\n".join(f"  {json.dumps(k)}: {value(st[k])}" for k in sorted(st))
        + "\n }"
        for st in states
    ]
    return "[\n" + ",\n".join(epochs) + "\n]\n"


@pytest.fixture(scope="module")
def delta_run(spark, tiny_seeds, tiny_pages, tiny_robots):
    """Three DELTA_CFG epochs on one catalog (read-only for the tests):
    per epoch its stats, committed state and the manifest entries of
    the keyed state tables before and after it."""
    cat = _mk_cat(spark, tiny_seeds, DELTA_CFG, "fd_mor_")

    def entries():
        with open(os.path.join(cat.root, "manifest.json")) as f:
            tables = json.load(f)["tables"]
        return {t: tables.get(t) for t in STATE_TABLES}

    epochs = []
    try:
        for _ in range(3):
            before = entries()
            st = run_epoch(spark, cat, tiny_pages, tiny_robots, DELTA_CFG)
            epochs.append({
                "stats": st, "state": _commit_state(cat, st),
                "before": before, "after": entries(),
            })
        yield cat, epochs
    finally:
        shutil.rmtree(cat.root, ignore_errors=True)


@pytest.fixture()
def mor(spark, tiny_seeds):
    cat = _mk_cat(spark, tiny_seeds, DELTA_CFG, "fd_mor1_")
    yield cat
    shutil.rmtree(cat.root, ignore_errors=True)


def test_delta_epochs_match_overwrite_epochs(delta_run):
    """Stats, frontier, page_cache, politeness, seen_exact and the
    extracted facts of every epoch equal, byte for byte, what the
    partition-overwrite commit path produced for the same epochs."""
    _, epochs = delta_run
    got = _golden_text([ep["state"] for ep in epochs])
    assert got == GOLDEN.read_text()


def test_delta_epoch_writes_only_delta(delta_run):
    cat, epochs = delta_run
    for ep in epochs:
        assert ep["stats"]["n_dequeued"] > 0
        before, after = ep["before"]["frontier"], ep["after"]["frontier"]
        assert after["parts"] == before["parts"]  # no bucket file rewritten
        assert len(after.get("deltas", [])) == len(before.get("deltas", [])) + 1
        # the delta holds only changed rows — strictly fewer than the table
        dl = cat.spark.read.schema(FRONTIER).parquet(
            os.path.join(cat.root, after["deltas"][-1])
        )
        assert 0 < dl.count() < ep["stats"]["frontier_size"]


def test_all_state_tables_delta_commit(delta_run):
    """page_cache and politeness get the same merge-on-read treatment
    as the frontier: a delta epoch appends one delta per table, leaves
    every base bucket untouched, and reads resolve to the overwrite
    path's rows (golden), one row per key."""
    _, epochs = delta_run
    golden = json.loads(GOLDEN.read_text())
    for ep, want in zip(epochs, golden):
        for t in ("page_cache", "politeness"):
            before, after = ep["before"][t], ep["after"][t]
            if before is not None:
                assert after["parts"] == before["parts"], t
                assert len(after.get("deltas", [])) == len(
                    before.get("deltas", [])
                ) + 1, t
            assert ep["state"][t] == want[t], t
            # newest-wins resolution: one row per key
            key = schemas.ALL_TABLES[t].fieldNames().index(MERGE_KEYS[t])
            keys = [row[key] for row in ep["state"][t]]
            assert len(keys) == len(set(keys)), t


def test_seen_exact_by_reference(spark, tiny_seeds, tiny_pages, tiny_robots):
    """seen_exact is manifest references into frontier files (zero
    extra bytes written) — membership must still equal the overwrite
    path's materialized seen_exact (golden) after epochs + compaction."""
    compact_cfg = replace(DELTA_CFG, compact_every=2)
    cat = _mk_cat(spark, tiny_seeds, compact_cfg, "fd_seen_")
    try:
        for _ in range(3):
            run_epoch(spark, cat, tiny_pages, tiny_robots, compact_cfg)
        got = sorted({r.url_hash for r in cat.read("seen_exact").collect()})
        assert got == json.loads(GOLDEN.read_text())[-1]["seen_exact"]
        # every referenced path belongs to the frontier's directory tree
        entry = _manifest_entry(cat, "seen_exact")
        assert entry["paths"]
        assert all(p.startswith("frontier/") for p in entry["paths"])
    finally:
        shutil.rmtree(cat.root, ignore_errors=True)


def test_row_count_from_manifest(delta_run):
    """catalog.row_count is exact with zero jobs, and equals the
    overwrite path's frontier size (golden) every epoch."""
    _, epochs = delta_run
    golden = json.loads(GOLDEN.read_text())
    for ep, want in zip(epochs, golden):
        assert ep["stats"]["frontier_size"] == len(ep["state"]["frontier"])
        assert ep["stats"]["frontier_size"] == want["stats"]["frontier_size"]


def test_compaction_preserves_state_and_clears_deltas(
    spark, tiny_seeds, tiny_pages, tiny_robots
):
    compact_cfg = replace(DELTA_CFG, compact_every=2)
    a = _mk_cat(spark, tiny_seeds, DELTA_CFG, "fd_nc_")
    b = _mk_cat(spark, tiny_seeds, compact_cfg, "fd_c_")
    try:
        for _ in range(3):
            run_epoch(spark, a, tiny_pages, tiny_robots, DELTA_CFG)
            run_epoch(spark, b, tiny_pages, tiny_robots, compact_cfg)
        assert len(_manifest_entry(a).get("deltas", [])) == 3
        assert len(_manifest_entry(b).get("deltas", [])) <= 1
        assert _frontier_rows(a) == _frontier_rows(b)
    finally:
        shutil.rmtree(a.root, ignore_errors=True)
        shutil.rmtree(b.root, ignore_errors=True)


def test_upsert_fold_equals_delta_plus_compact(spark, tiny_seeds):
    """stage_upsert_fold (fold-on-write) must stage the exact end-state
    of stage_append_delta + compact — same resolved rows, no pending
    deltas, same rewritten buckets — while writing the changed rows
    once instead of twice."""
    from hiispider_spark.operators.frontier import build_frontier

    cats = {}
    try:
        fr = build_frontier(tiny_seeds, n_partitions=8)
        for tag in ("ab", "fold"):
            root = tempfile.mkdtemp(prefix=f"fd_uf_{tag}_")
            cat = IcebergLike(spark, root)
            cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
            cat.commit(epoch=0)
            cats[tag] = cat
        # delta 1 (committed in both): a deterministic key slice
        # advances its schedule (limit() would pick arbitrary rows)
        def d1(cat):
            return (
                cat.read("frontier")
                .filter(F.pmod(F.col("url_hash"), F.lit(3)) == 0)
                .withColumn("retry_count", F.lit(1))
            )
        # delta 2: an overlapping deterministic slice flips state
        def d2(cat):
            return (
                cat.read("frontier")
                .filter(F.pmod(F.col("url_hash"), F.lit(2)) == 0)
                .withColumn("state", F.lit("done"))
            )
        for cat in cats.values():
            cat.stage_append_delta("frontier", d1(cat))
            cat.commit(epoch=1)
        a, b = cats["ab"], cats["fold"]
        a.stage_append_delta("frontier", d2(a))
        a.compact("frontier")
        a.commit(epoch=2)
        b.stage_upsert_fold("frontier", d2(b), "part_id", n_rows=200)
        b.commit(epoch=2)
        assert _frontier_rows(a) == _frontier_rows(b)
        ea, eb = _manifest_entry(a), _manifest_entry(b)
        assert not ea.get("deltas") and not eb.get("deltas")
        assert sorted(ea["parts"]) == sorted(eb["parts"])
        assert a.row_count("frontier") == b.row_count("frontier") == (
            b.read("frontier").count()
        )
        # newest-wins held through the fold: one row per key
        n_keys = b.read("frontier").select("url_hash").distinct().count()
        assert b.read("frontier").count() == n_keys
    finally:
        for cat in cats.values():
            shutil.rmtree(cat.root, ignore_errors=True)


def test_epoch_fold_on_write_matches_post_hoc_compaction(
    spark, tiny_seeds, tiny_pages, tiny_robots
):
    """A run_epoch whose pre-write accounting trips the compaction bound
    takes the fold-on-write path (no delta files ever written) and must
    land the same frontier, page_cache, politeness AND seen_exact state
    as the delta-only flow; the fold is reported via the compacted
    stat."""
    compact_cfg = replace(DELTA_CFG, compact_every=2)
    a = _mk_cat(spark, tiny_seeds, DELTA_CFG, "fd_fw_nc_")
    b = _mk_cat(spark, tiny_seeds, compact_cfg, "fd_fw_c_")
    try:
        sts = []
        for _ in range(3):
            run_epoch(spark, a, tiny_pages, tiny_robots, DELTA_CFG)
            sts.append(
                run_epoch(spark, b, tiny_pages, tiny_robots, compact_cfg)
            )
        # epochs 2+ trip the file-count bound pre-write → folds
        assert any("frontier" in st["compacted"] for st in sts[1:])
        assert len(_manifest_entry(b).get("deltas", [])) <= 1
        assert _frontier_rows(a) == _frontier_rows(b)
        for t in ("page_cache", "politeness"):
            assert any(t in st["compacted"] for st in sts[1:]), t
            cols = schemas.ALL_TABLES[t].fieldNames()
            assert _table_rows(a.read(t), cols) == _table_rows(b.read(t), cols)
        sa = {r.url_hash for r in a.read("seen_exact").collect()}
        sb = {r.url_hash for r in b.read("seen_exact").collect()}
        assert sa == sb
        # folded epochs reference frontier bucket files, not delta dirs
        entry = _manifest_entry(b, "seen_exact")
        assert all(p.startswith("frontier/") for p in entry["paths"])
    finally:
        shutil.rmtree(a.root, ignore_errors=True)
        shutil.rmtree(b.root, ignore_errors=True)


@pytest.mark.parametrize("table", STATE_TABLES)
def test_fold_trigger_counts_delta_rows_exactly(
    spark, tiny_seeds, tiny_pages, tiny_robots, table
):
    """Every keyed state table decides its fold before writing, from the
    exact row count of its change set: a compact_delta_rows bound one
    above it appends a delta of exactly that many rows, a bound at it
    folds. The counts: frontier requeued + backoff + denied + inserted,
    page_cache the fetched pages, politeness the hosts the politeness
    stage touched. Under heavy deferral (one grant per host) most of
    the dequeued slice goes back unchanged and never reaches the
    frontier delta, so n_dequeued + n_inserted over-counts it."""
    heavy = replace(DELTA_CFG, host_max_parallel=1)
    cats = []

    def first_epoch(cfg, tag):
        cat = _mk_cat(spark, tiny_seeds, cfg, f"fd_defer_{tag}_")
        cats.append(cat)
        n0 = cat.row_count("frontier")
        return cat, run_epoch(spark, cat, tiny_pages, tiny_robots, cfg), n0

    try:
        probe, st, n0 = first_epoch(heavy, "probe")
        assert table not in st["compacted"]
        exact = _manifest_entry(probe, table)["delta_rows"][-1]
        if table == "frontier":
            upper = st["n_dequeued"] + (st["frontier_size"] - n0)  # + inserted
            assert st["n_granted"] < st["n_dequeued"]  # deferral happened
            assert exact + 1 <= upper, (exact, upper)
        elif table == "page_cache":
            assert exact == st["n_fetched"]
        else:  # the table starts empty: one row per touched host
            assert exact == probe.read("politeness").count()

        below, st, _ = first_epoch(
            replace(heavy, compact_delta_rows=exact + 1), "below"
        )
        assert table not in st["compacted"]
        assert _manifest_entry(below, table)["delta_rows"] == [exact]

        at, st, _ = first_epoch(replace(heavy, compact_delta_rows=exact), "at")
        assert table in st["compacted"]
        assert not _manifest_entry(at, table).get("deltas")
    finally:
        for cat in cats:
            shutil.rmtree(cat.root, ignore_errors=True)


def test_resolve_broadcast_size_gate(spark, tiny_seeds):
    """The merge-on-read resolve force-broadcasts the delta key set
    only while manifest counts prove it small; past the bound the join
    runs unhinted (a 10^10-scale delta must not OOM the driver)."""
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_gate_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        cat.stage_append_delta(
            "frontier", cat.read("frontier").limit(50)
        )
        cat.commit(epoch=1)
        plan_small = cat.read("frontier")._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan_small  # 50 keys → forced broadcast
        old = IcebergLike.BROADCAST_DELTA_MAX_ROWS
        try:
            IcebergLike.BROADCAST_DELTA_MAX_ROWS = 10  # below the 50-row delta
            plan_big = (
                cat.read("frontier")._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            IcebergLike.BROADCAST_DELTA_MAX_ROWS = old
        # unhinted join: with AQE the tiny set may STILL broadcast at
        # runtime (fine — that's Spark's choice, not a forced hint), so
        # assert on the analyzed plan's hints instead
        hinted = cat.read("frontier")._jdf.queryExecution().analyzed().toString()
        IcebergLike.BROADCAST_DELTA_MAX_ROWS = 10
        try:
            unhinted = (
                cat.read("frontier")._jdf.queryExecution().analyzed().toString()
            )
        finally:
            IcebergLike.BROADCAST_DELTA_MAX_ROWS = old
        assert "UnresolvedHint BROADCAST" in hinted or "hints=[broadcast]" in hinted.lower() or "ResolvedHint" in hinted
        assert "Hint" not in unhinted
        assert plan_big  # plan still builds past the gate
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("pending_delta", [False, True])
def test_upsert_fold_rejects_duplicate_keys(spark, tiny_seeds, pending_delta):
    """stage_upsert_fold promises the end state of stage_append_delta +
    compact, which keeps one row per key. Rows of one write have no
    newest-wins order, so duplicate merge keys raise and stage nothing
    (they used to land both rows in the bucket files)."""
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_dup_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        if pending_delta:
            cat.stage_append_delta("frontier", cat.read("frontier").limit(4))
            cat.commit(epoch=1)
        manifest = cat.manifest
        files = sorted(os.listdir(os.path.join(root, "frontier")))
        some = cat.read("frontier").orderBy("url_hash").limit(3)
        dup = some.unionByName(some.withColumn("retry_count", F.lit(7)))
        with pytest.raises(ValueError, match="frontier"):
            cat.stage_upsert_fold("frontier", dup, "part_id", n_rows=6)
        assert cat._staged == {} and cat.manifest == manifest
        assert sorted(os.listdir(os.path.join(root, "frontier"))) == files
        # key-unique rows still fold
        cat.stage_upsert_fold("frontier", some, "part_id", n_rows=3)
        cat.commit(epoch=cat.epoch + 1)
        assert cat.read("frontier").count() == fr.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_missing_manifest_counts_are_errors(spark, tmp_path):
    """Every manifest entry carries its row counts; one without them is
    corrupt. A missing count must raise, not read as 0 (a 0 pending
    delta-row count would silently disable the row-bound fold trigger)
    or as an unknown table size."""
    tables = {
        "frontier": {"parts": {"0": "frontier/v000001/_pid=0"},
                     "part_rows": {"0": 5}, "key_count": 5,
                     "deltas": ["frontier/v000002"], "next_version": 3},
        "lineage": {"paths": ["lineage/v000001"], "next_version": 2},
    }
    with open(tmp_path / "manifest.json", "w") as f:
        json.dump({"snapshot_id": 1, "epoch": 1, "tables": tables}, f)
    cat = IcebergLike(spark, str(tmp_path))
    with pytest.raises(KeyError, match="delta_rows"):
        cat.delta_row_count("frontier")
    with pytest.raises(KeyError, match="path_rows"):
        cat.row_count("lineage")
    assert cat.delta_row_count("page_cache") == 0  # no entry, no deltas


def test_catalog_delta_upsert_semantics(spark):
    root = tempfile.mkdtemp(prefix="fd_unit_")
    try:
        cat = IcebergLike(spark, root)

        def row(h, part, state="pending", retry=0):
            return (
                f"http://h{h}.test/", h, f"h{h}.test", 0, part, 1.0,
                "2024-01-01 00:00:00", 3600, retry, state, "text",
            )

        def df(rows):
            d = spark.createDataFrame(
                rows,
                "url string, url_hash long, host string, salt int, "
                "part_id int, priority double, next_fetch_ts string, "
                "interval_s int, retry_count int, state string, plugin string",
            )
            return d.withColumn(
                "next_fetch_ts", F.col("next_fetch_ts").cast("timestamp")
            )

        base = df([row(1, 0), row(2, 0), row(3, 1)])
        cat.stage_overwrite_parts("frontier", base, "part_id", [0, 1])
        cat.commit(epoch=0)
        # delta 1 updates key 1; delta 2 updates key 1 AGAIN + inserts 9
        cat.stage_append_delta("frontier", df([row(1, 0, retry=1)]))
        cat.stage_append_delta(
            "frontier", df([row(1, 0, retry=2), row(9, 1)])
        )
        cat.commit(epoch=1)
        got = {r.url_hash: r for r in cat.read("frontier").collect()}
        assert set(got) == {1, 2, 3, 9}  # insert landed, base survived
        assert got[1].retry_count == 2  # newest delta wins
        assert got[2].retry_count == 0  # untouched base row intact
        # read_parts prunes deltas by bucket too
        p1 = {r.url_hash for r in cat.read_parts("frontier", [1]).collect()}
        assert p1 == {3, 9}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_staged_delta_invisible_and_rollback(spark, tiny_seeds):
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_rb_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        n0 = cat.read("frontier").count()
        bump = cat.read("frontier").limit(5).withColumn(
            "retry_count", F.lit(4)
        )
        cat.stage_append_delta("frontier", bump.select(*fr.columns))
        # staged: committed read unchanged, staged read sees the upsert
        assert cat.read("frontier").filter("retry_count = 4").count() == 0
        assert cat.read_staged("frontier").filter("retry_count = 4").count() == 5
        assert cat.read_staged("frontier").count() == n0
        delta_rel = cat._staged["frontier"]["deltas"][-1]
        cat.rollback_staged()
        assert not os.path.exists(os.path.join(root, delta_rel))
        assert cat.read("frontier").count() == n0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_overwrite_parts_refuses_pending_deltas(spark, tiny_seeds):
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_refuse_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        cat.stage_append_delta("frontier", cat.read("frontier").limit(1))
        with pytest.raises(ValueError, match="pending delta"):
            cat.stage_overwrite_parts("frontier", fr, "part_id", [0])
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_empty_delta_roundtrip(spark, tiny_seeds):
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_empty_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        n0 = cat.read("frontier").count()
        cat.stage_append_delta(
            "frontier", spark.createDataFrame([], FRONTIER)
        )
        cat.commit(epoch=1)
        # an all-deferred epoch's 0-row delta must not break resolution
        assert cat.read("frontier").count() == n0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_frontier_buckets_time_sorted_with_stats(
    spark, mor, tiny_pages, tiny_robots
):
    """Time layout (catalog.SORT_COLS): every frontier bucket file —
    bootstrap AND compaction output — is sorted by next_fetch_ts with
    real parquet min/max statistics (TIMESTAMP_MICROS, not stat-less
    INT96), so the dequeue's pushed predicate can prune row groups
    whose min exceeds the epoch ts. Golden orderings are unaffected
    (dequeue re-sorts in its window); this pins the STORAGE layout."""
    import pyarrow.parquet as pq

    run_epoch(spark, mor, tiny_pages, tiny_robots, DELTA_CFG)
    mor.compact("frontier")
    mor.commit(epoch=mor.epoch)
    entry = _manifest_entry(mor)
    assert not entry.get("deltas")  # compaction folded
    checked = 0
    for rel in entry["parts"].values():
        absdir = os.path.join(mor.root, rel)
        for fn in os.listdir(absdir):
            if not fn.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(absdir, fn))
            md = pf.metadata
            idx = [
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema
                == "next_fetch_ts"
            ][0]
            st = md.row_group(0).column(idx).statistics
            assert st is not None and st.min is not None  # prunable stats
            ts = pf.read(columns=["next_fetch_ts"]).to_pandas()[
                "next_fetch_ts"
            ]
            assert bool(ts.is_monotonic_increasing)
            checked += 1
    assert checked > 0


def test_delta_seq_anchored_to_part_file_parent(spark, tmp_path):
    """Newest-wins must survive a catalog ROOT whose path contains a
    /v<digits>/ segment — the _seq regex anchors to the part file's
    parent version dir, never the first match in the path."""
    import os

    from hiispider_spark.sources.catalog import IcebergLike

    root = os.path.join(str(tmp_path), "v7", "cat")
    cat = IcebergLike(spark, root)
    rows = lambda t, p: spark.createDataFrame(  # noqa: E731
        [("u", 1, "h", 0, 0, p, None, 60, 0, "pending", "text")],
        (
            "url string, url_hash long, host string, salt int, "
            "part_id int, priority double, next_fetch_ts timestamp, "
            "interval_s int, retry_count int, state string, "
            "plugin string"
        ),
    )
    cat.stage_overwrite_parts("frontier", rows("frontier", 1.0), "part_id", [0])
    cat.commit(epoch=0)
    cat.stage_append_delta("frontier", rows("frontier", 2.0))
    cat.commit(epoch=1)
    cat.stage_append_delta("frontier", rows("frontier", 3.0))
    cat.commit(epoch=2)
    got = cat.read("frontier").collect()
    assert len(got) == 1 and got[0]["priority"] == 3.0
