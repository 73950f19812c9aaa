"""IcebergLike — snapshot-versioned parquet tables with atomic commits.

hiispider keeps durable state in MySQL/Cassandra/Redis and recovers by
re-reading it at boot [hs: hiispider/servers/scheduler.py (boot load) †].
Our equivalent (SURVEY.md §2 O-25) is an Iceberg-style table layer:
every table is a set of immutable parquet version directories plus one
JSON manifest naming the current snapshot. The manifest rename is the
single atomic commit point — partially-written epochs are invisible, so
"runs resume exactly" (BASELINE.json:6).

No Iceberg jars exist in this sandbox (SURVEY.md §0); on a real cluster
this class swaps for ``spark.table`` / ``df.writeTo(...).append()`` with
identical call sites — the pipeline code only touches
read/stage_overwrite/stage_append/commit.

Scale note (100 TB): version dirs are written with the producing plan's
partitioning (the frontier stays bucketed by ``part_id``); the manifest
holds only paths+counts, never data, so commit cost is O(1) regardless
of table size, like an Iceberg snapshot pointer swap.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from hiispider_spark import frames, schemas

_MANIFEST = "manifest.json"

# Tables that support merge-on-read delta commits: key column whose
# latest version wins at read time. An epoch appends O(changed-rows)
# delta files instead of rewriting O(table) partition snapshots; reads
# resolve base-vs-delta with an anti-join on the (small) delta key set —
# broadcast while the accumulated key count stays under
# BROADCAST_DELTA_MAX_ROWS (manifest row counts, no job), plain
# anti-join past it — so the base scan keeps its filter pushdown and no
# O(table) shuffle is added. Compaction folds deltas back into
# partition files. All three keyed read-modify-write state tables merge
# this way: at 10^10 with every bucket fetched each epoch, a partition
# overwrite of ANY of them rewrites O(table).
MERGE_KEYS = {
    "frontier": "url_hash",
    "page_cache": "url_hash",
    "politeness": "host",
}

#: Time layout: sort rows by these columns WITHIN each bucket file at
#: every partition-level write (bootstrap and — the one that matters
#: at scale — compaction and fold-on-write). The frontier's hottest
#: read is the dequeue's ``next_fetch_ts <= epoch_ts`` scan: with rows
#: time-sorted, parquet row-group min/max stats make most of a
#: 10^10-row frontier's not-yet-due tail skippable at the footer
#: (pushed filters prune row groups whose min exceeds the epoch ts);
#: unsorted buckets interleave due and future rows so every group
#: straddles the predicate and nothing prunes. Measured:
#: tools/frontier_layout_probe.py + BENCH/BASELINE.md. Sorting is a
#: per-task in-memory sort of one bucket slice — no extra shuffle
#: (sortWithinPartitions after the existing repartition).
SORT_COLS = {
    "frontier": ["next_fetch_ts"],
}


def _dir_row_count(absdir: str) -> int:
    """Total rows under a version directory from parquet footers —
    driver-side metadata reads (no Spark job), O(files)."""
    import pyarrow.parquet as pq

    total = 0
    for root_, _dirs, files in os.walk(absdir):
        for fn in files:
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(root_, fn)
                ).metadata.num_rows
    return total


class IcebergLike:
    # Force-broadcast the delta key set only while it provably fits:
    # past this many accumulated delta rows (manifest counts — the
    # upper bound on distinct keys) the resolve anti-join runs plain
    # and Spark/AQE picks the strategy. 4M 8-byte keys ≈ tens of MB
    # broadcast; unbounded accumulation at 10^10 would OOM the driver.
    BROADCAST_DELTA_MAX_ROWS = 4_000_000

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._staged: dict[str, dict[str, Any]] = {}
        # version dirs allocated since the last commit/rollback: the
        # files rollback_staged deletes
        self._written: set[str] = set()
        self.manifest = self._load_manifest()
        # Single-writer transaction lock. ``_staged`` is TRANSACTION-
        # GLOBAL: commit() publishes everything staged and
        # rollback_staged() wipes everything staged, so two concurrent
        # writers (e.g. the crawl stream and the CDX ingest stream over
        # one catalog) would co-commit each other's half-staged tables
        # or wipe each other's work. Every stage→commit/rollback
        # sequence must run under this lock (the streaming foreachBatch
        # bodies do); with writers serialized, each transaction's
        # staged set is exactly its own, so commit/rollback scope is
        # correct by construction. Per-table write jobs WITHIN one
        # transaction (run_epoch's thread pool) are fine: dict writes
        # to distinct keys under the GIL, one committing thread.
        # Transaction-scope safety cannot move inside stage_* itself:
        # the epoch's write-pool threads stage concurrently while the
        # transaction owner is a DIFFERENT thread, and an RLock is
        # reentrant per thread — so stage-level acquisition would
        # deadlock exactly the supported concurrency. What the layer
        # CAN enforce by construction: commit/rollback acquire the
        # lock themselves (a direct caller beside a stream serializes
        # at the publish point instead of silently co-committing), and
        # every ``_staged`` mutation goes through ``_staged_mutex`` so
        # the dict is never torn regardless of caller discipline.
        self.write_lock = threading.RLock()
        self._staged_mutex = threading.Lock()

    # ------------------------------------------------------------- manifest
    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def _load_manifest(self) -> dict[str, Any]:
        p = self._manifest_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"snapshot_id": 0, "epoch": -1, "tables": {}}

    @property
    def epoch(self) -> int:
        """Last committed epoch (-1 before the first commit)."""
        return int(self.manifest["epoch"])

    # ----------------------------------------------------------------- read
    @staticmethod
    def _entry_paths(entry: dict[str, Any]) -> list[str]:
        """ALL relative data paths of a manifest entry (incl. delta
        files) — full-snapshot form ("paths": [...]) or partition-level
        form ("parts": {pid: path}, optional "deltas": [...])."""
        if "parts" in entry:
            return list(entry["parts"].values()) + list(entry.get("deltas", []))
        return list(entry.get("paths", []))

    # Tables whose file sets may REFERENCE another table's version dirs
    # (stage_append_ref) — read with an explicit schema so the scan
    # projects just this table's columns out of superset-schema files.
    _PROJECTED_TABLES = frozenset({"seen_exact"})

    def _read_rels(self, name: str, rels: list[str]) -> DataFrame:
        if not rels:
            schema = schemas.ALL_TABLES.get(name)
            if schema is None:
                raise KeyError(f"unknown table {name!r} with no snapshot")
            return schemas.empty_frame(self.spark, schema)
        paths = [os.path.join(self.root, p) for p in rels]
        # explicit schema wherever it is declared: skips the driver-side
        # footer-sniffing pass on every read (a per-epoch fixed cost —
        # this runs 5+ times per epoch), and for _PROJECTED_TABLES it is
        # also the projection out of superset-schema referenced files
        schema = schemas.ALL_TABLES.get(name)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        return self.spark.read.parquet(*paths)

    def _delta_latest(self, name: str, entry: dict[str, Any]) -> DataFrame:
        """Latest version of every key present in any delta file of
        ``entry`` — last-written delta wins. O(delta rows): deltas are
        per-epoch change sets, never the table.

        ONE parquet read over all delta dirs (not a per-delta
        read+union loop — with compact_every=8 that loop cost 8 reader
        builds + 7 unions of pure driver wall per table per epoch).
        The newest-wins sequence is recovered from the version dir in
        ``_metadata.file_path``: ``_new_version_dir`` allocates version
        numbers monotonically per table and ``commit`` appends delta
        rels in stage order, so numeric version order IS the append
        order (test_frontier_deltas pins the resolution)."""
        from pyspark.sql import functions as F

        key = MERGE_KEYS[name]
        # explicit schema: an all-deferred epoch writes a 0-row delta
        # (no part files), which plain parquet reads can't infer
        schema = schemas.ALL_TABLES[name]
        paths = [os.path.join(self.root, r) for r in entry["deltas"]]
        dl = self.spark.read.schema(schema).parquet(*paths).withColumn(
            "_seq",
            # anchored to the part file's PARENT dir — a first-match
            # pattern would pick up a /v<digits>/ segment in the
            # catalog root path and silently scramble newest-wins
            F.regexp_extract(
                F.col("_metadata.file_path"), r"/v(\d+)/[^/]+$", 1
            ).cast("long"),
        )
        cols = [c for c in dl.columns if c != "_seq"]
        val = [c for c in cols if c != key]
        return (
            dl.groupBy(key)
            .agg(F.max_by(F.struct(*val), F.col("_seq")).alias("_s"))
            .select(key, "_s.*")
            .select(*cols)
        )

    def _resolve(
        self,
        name: str,
        base: DataFrame,
        latest: DataFrame,
        delta_rows: int | None = None,
    ) -> DataFrame:
        """Merge-on-read: a base row survives unless its key appears in
        a delta. While the accumulated delta key set is provably small
        (``delta_rows`` from manifest counts ≤ BROADCAST_DELTA_MAX_ROWS)
        the invalidation is a forced BROADCAST anti-join — predicates
        still push into the base parquet scan and no O(table) shuffle
        happens. Past the bound (or with no count available) the join
        runs unhinted so a huge key set can't OOM the driver."""
        from pyspark.sql import functions as F

        key = MERGE_KEYS[name]
        keys = latest.select(key)
        if delta_rows is not None and delta_rows <= self.BROADCAST_DELTA_MAX_ROWS:
            keys = F.broadcast(keys)
        return (
            base.join(keys, key, "left_anti")
            .select(*base.columns)  # USING-join moves the key first
            .unionByName(latest.select(*base.columns))
        )

    @staticmethod
    def _entry_delta_rows(entry: dict[str, Any]) -> int:
        """Accumulated delta row count of an entry (0 without deltas)."""
        return int(sum(entry["delta_rows"])) if entry.get("deltas") else 0

    def _read_entry(self, name: str, entry: dict[str, Any] | None) -> DataFrame:
        if entry and entry.get("deltas"):
            base = self._read_rels(name, list(entry["parts"].values()))
            return self._resolve(
                name,
                base,
                self._delta_latest(name, entry),
                self._entry_delta_rows(entry),
            )
        rels = self._entry_paths(entry) if entry else []
        return self._read_rels(name, rels)

    def read(self, name: str) -> DataFrame:
        """Current committed snapshot of ``name`` (staged writes invisible,
        exactly like reading an Iceberg table mid-transaction)."""
        return self._read_entry(name, self.manifest["tables"].get(name))

    def read_parts(
        self, name: str, parts: list[int], part_col: str = "part_id"
    ) -> DataFrame:
        """Committed snapshot restricted to the given partitions —
        partition pruning at the manifest level: untouched buckets'
        files are never opened (the Iceberg partition-scan analogue)."""
        from pyspark.sql import functions as F

        entry = self.manifest["tables"].get(name)
        if entry is None or "parts" not in entry:
            return self.read(name).filter(F.col(part_col).isin(list(parts)))
        rels = [entry["parts"][str(p)] for p in parts if str(p) in entry["parts"]]
        base = self._read_rels(name, rels)
        if entry.get("deltas"):
            # a key's bucket never changes across versions, so pruning
            # deltas by part_col before resolution is exact
            latest = self._delta_latest(name, entry).filter(
                F.col(part_col).isin(list(parts))
            )
            return self._resolve(
                name, base, latest, self._entry_delta_rows(entry)
            )
        return base

    def read_staged(self, name: str) -> DataFrame:
        """Read the staged (not-yet-committed) version of ``name`` if one
        exists, else the committed snapshot — used when a later stage of
        the same epoch consumes an earlier stage's output."""
        entry = self._staged.get(name)
        if entry is None:
            return self.read(name)
        return self._read_entry(name, entry)

    # ---------------------------------------------------------------- write
    def _new_version_dir(self, name: str) -> tuple[str, str]:
        ver = self.manifest["tables"].get(name, {}).get("next_version", 1)
        staged = self._staged.get(name)
        if staged:
            ver = max(ver, staged["next_version"])
        rel = os.path.join(name, f"v{ver:06d}")
        with self._staged_mutex:
            self._written.add(rel)
        return rel, os.path.join(self.root, rel)

    def stage_overwrite(self, name: str, df: DataFrame) -> None:
        """Write a full replacement snapshot for ``name`` (the small
        whole-table state tables, e.g. neg_cache)."""
        rel, absdir = self._new_version_dir(name)
        df.write.mode("overwrite").parquet(absdir)
        with self._staged_mutex:
            self._staged[name] = {
                "paths": [rel],
                "path_rows": [_dir_row_count(absdir)],
                "next_version": int(rel.rsplit("v", 1)[1]) + 1,
            }

    def stage_overwrite_parts(
        self,
        name: str,
        df: DataFrame,
        part_col: str,
        touched_parts: list[int],
        clear_deltas: bool = False,
    ) -> None:
        """Partition-level overwrite: replace only ``touched_parts``;
        untouched partitions carry over **by manifest reference** — no
        read, no rewrite (the Iceberg dynamic-partition-overwrite
        analogue). A fold whose deltas touch 2 of 10k frontier buckets
        writes 2 bucket directories, not the 10^10-row table.

        ``df`` may contain rows outside ``touched_parts`` — they are
        filtered out (their buckets' committed files stay authoritative).
        A touched partition with zero surviving rows is dropped from the
        manifest. ``part_col`` stays a data column (``_pid`` duplicates
        it for the directory layout, so per-partition files read back
        with the full schema).
        """
        from pyspark.sql import functions as F

        touched = sorted({int(p) for p in touched_parts})
        prev = self._staged.get(name) or self.manifest["tables"].get(name, {})
        if prev.get("paths"):
            raise ValueError(
                f"table {name!r} has a full-snapshot manifest; partition-level "
                "overwrite requires parts-form history (bootstrap it with "
                "stage_overwrite_parts)"
            )
        if prev.get("deltas") and not clear_deltas:
            raise ValueError(
                f"table {name!r} has pending delta files; a partition "
                "overwrite that ignores them would resurrect stale base "
                "rows — compact() first (or pass clear_deltas=True with "
                "touched_parts covering every delta row's partition)"
            )
        parts = dict(prev.get("parts", {}))
        part_rows = dict(prev.get("part_rows", {}))
        next_version = prev.get("next_version", 1)
        if touched:
            rel, absdir = self._new_version_dir(name)
            out = (
                df.filter(F.col(part_col).isin(touched))
                # co-locate each bucket into one task before partitionBy:
                # without this every input partition writes a file into
                # every bucket directory (P×P small files), and the
                # driver-side commit protocol is SERIAL in file count —
                # measured as the dominant non-scaling cost of the write
                # phase. One shuffle of the (small) touched slice buys a
                # ~P× smaller file inventory.
                .repartition(len(touched), F.col(part_col))
                .withColumn("_pid", F.col(part_col))
            )
            sort_cols = SORT_COLS.get(name)
            if sort_cols:
                # time layout (see SORT_COLS): per-task sort of the
                # bucket slice — row groups become min/max-prunable on
                # the dequeue predicate, no extra shuffle. Must sort on
                # _pid itself (not its part_col twin): the partitionBy
                # writer requires ordering by partition columns and
                # would otherwise insert its own UNSTABLE sort on _pid,
                # destroying the time order this exists to create.
                out = out.sortWithinPartitions("_pid", *sort_cols)
            (
                out.write.mode("overwrite")
                .partitionBy("_pid")
                .parquet(absdir)
            )
            for p in touched:
                pdir = os.path.join(absdir, f"_pid={p}")
                if os.path.isdir(pdir):
                    parts[str(p)] = os.path.join(rel, f"_pid={p}")
                    part_rows[str(p)] = _dir_row_count(pdir)
                else:
                    parts.pop(str(p), None)  # partition emptied
                    part_rows.pop(str(p), None)
            next_version = int(rel.rsplit("v", 1)[1]) + 1
        with self._staged_mutex:
            self._staged[name] = {
                "parts": parts,
                "part_rows": part_rows,
                # exact: keyed tables hold one row per key
                "key_count": sum(part_rows[p] for p in parts),
                "next_version": next_version,
            }

    def stage_append_delta(
        self, name: str, df: DataFrame, n_new_keys: int | None = None
    ) -> None:
        """Merge-on-read upsert commit (the Iceberg/Delta MERGE shape at
        its cheapest): append ONE file set holding only this epoch's
        changed rows. Write cost is O(changed), not O(table) — the shape
        that survives a 10^10-row frontier where partition-level
        overwrite still rewrites every bucket the epoch dequeued from.
        Reads resolve newest-key-wins (see ``_resolve``); ``compact``
        folds deltas back into partition files to bound read fan-in.

        ``n_new_keys``: how many delta rows carry keys NOT yet in the
        table (the rest update in place) — keeps ``row_count`` exact
        with zero jobs; omit if unknown (size becomes unknown until the
        next compaction recounts it from footers).
        """
        if name not in MERGE_KEYS:
            raise KeyError(f"no merge key registered for table {name!r}")
        prev = self._staged.get(name) or self.manifest["tables"].get(name, {})
        if prev.get("paths"):
            raise ValueError(
                f"table {name!r} has a full-snapshot manifest; delta commits "
                "require parts-form history"
            )
        rel, absdir = self._new_version_dir(name)
        df.write.mode("overwrite").parquet(absdir)
        n = _dir_row_count(absdir)
        prev_kc = prev.get("key_count")
        with self._staged_mutex:
            self._staged[name] = {
                "parts": dict(prev.get("parts", {})),
                "part_rows": dict(prev.get("part_rows", {})),
                "deltas": list(prev.get("deltas", [])) + [rel],
                "delta_rows": (
                    prev["delta_rows"] if prev.get("deltas") else []
                ) + [n],
                # delta keys already in the table update in place; only
                # the caller knows how many are genuinely new (e.g. the
                # epoch's inserted count) — without it the exact size
                # becomes unknown
                "key_count": (
                    prev_kc + n_new_keys
                    if prev_kc is not None and n_new_keys is not None
                    else None
                ),
                "next_version": int(rel.rsplit("v", 1)[1]) + 1,
            }

    def stage_append_ref(self, name: str, source: str) -> None:
        """Stage ``name`` as a manifest reference to every file of
        ``source`` (staged view, bucket files and deltas): zero data
        written, row counts from ``source``'s entry. ``name`` must be in
        ``_PROJECTED_TABLES``: reads project the superset schema down.
        ``seen_exact`` is the frontier's files (frontier rows are never
        deleted; a key held twice is harmless to anti/semi-joins)."""
        if name not in self._PROJECTED_TABLES:
            raise KeyError(
                f"table {name!r} is not schema-projected; a by-reference "
                "append would leak the source table's schema into reads"
            )
        src = self._staged.get(source) or self.manifest["tables"].get(source, {})
        if "parts" in src:
            rows = [src["part_rows"][p] for p in src["parts"]] + list(
                src.get("delta_rows", [])
            )
        else:
            rows = list(src.get("path_rows", []))
        prev = self._staged.get(name) or self.manifest["tables"].get(name, {})
        with self._staged_mutex:
            self._staged[name] = {
                "paths": self._entry_paths(src),
                "path_rows": rows,
                "next_version": prev.get("next_version", 1),
            }

    def delta_count(self, name: str) -> int:
        """Number of pending delta file sets (staged view) — the
        read-fan-in compaction trigger."""
        entry = self._staged.get(name) or self.manifest["tables"].get(name, {})
        return len(entry.get("deltas", []))

    def delta_row_count(self, name: str) -> int:
        """Accumulated pending delta rows (staged view, manifest footer
        counts — no job). Upper bound on the resolve key-set size; the
        row-volume fold trigger."""
        entry = self._staged.get(name) or self.manifest["tables"].get(name, {})
        return self._entry_delta_rows(entry)

    def row_count(self, name: str) -> int | None:
        """Exact table size from manifest bookkeeping — O(1), no job.

        Keyed (parts-form) tables: ``key_count`` (footer sums, kept
        exact across delta commits via the caller-supplied new-key
        count; None after a delta appended without it). Paths-form
        tables: sum of per-file-set counts."""
        entry = self._staged.get(name) or self.manifest["tables"].get(name)
        if entry is None:
            return 0
        if "parts" in entry:
            return entry.get("key_count")
        return int(sum(entry["path_rows"]))

    def compact(self, name: str, part_col: str = "part_id") -> list[int]:
        """Fold pending deltas into partition-level base files.

        Only partitions that appear in some delta row are rewritten
        (resolved base∪delta for those buckets); every other bucket
        carries over by manifest reference. Runs inside the current
        transaction — staged, atomic with the next commit. Returns the
        rewritten partition ids.

        The crawl epoch no longer calls this: it folds every keyed state
        table on write (``stage_upsert_fold``). It stays the reference
        end state for that fold and a maintenance entry point.
        """
        entry = self._staged.get(name) or self.manifest["tables"].get(name, {})
        if not entry.get("deltas"):
            return []
        return self._fold(
            name, entry, self._delta_latest(name, entry), part_col,
            self._entry_delta_rows(entry),
        )

    def stage_upsert_fold(
        self,
        name: str,
        df: DataFrame,
        part_col: str = "part_id",
        n_rows: int | None = None,
    ) -> list[int]:
        """Upsert ``df`` and fold in the same write: stages exactly the
        end state of ``stage_append_delta(df)`` + ``compact(name)``, but
        writes the changed rows once, straight into resolved bucket
        files, instead of as a delta file set that the compaction
        rewrites at once. The epoch calls this when its pre-write row
        count shows the compaction bound will trip (the write path is
        disk-bound, so the doubled write does not shrink with cores).
        ``df`` must hold one row per merge key: a delta's keys are
        resolved newest-wins, but rows of one write have no order, so
        duplicates raise ``ValueError`` and nothing is staged.
        ``n_rows``: upper bound on ``df``'s row count (keeps the
        resolve's broadcast gate decidable without a job). Returns the
        rewritten partition ids."""
        if name not in MERGE_KEYS:
            raise KeyError(f"no merge key registered for table {name!r}")
        entry = self._staged.get(name) or self.manifest["tables"].get(name, {})
        if not entry.get("deltas"):
            return self._fold(name, entry, df, part_col, n_rows)
        # this epoch's rows are newest — they shadow prior deltas;
        # _resolve(prior, df) = prior minus df's keys, union df
        prior = self._delta_latest(name, entry)
        latest = self._resolve(name, prior, df.select(*prior.columns), n_rows)
        total = (
            None if n_rows is None else self._entry_delta_rows(entry) + n_rows
        )
        return self._fold(name, entry, latest, part_col, total)

    def _fold(
        self,
        name: str,
        entry: dict[str, Any],
        latest: DataFrame,
        part_col: str,
        latest_rows: int | None,
    ) -> list[int]:
        """The body of ``compact`` and ``stage_upsert_fold``: rewrite
        every bucket ``latest`` (newest row per key, at most
        ``latest_rows`` rows) touches as base resolved with ``latest``,
        and clear ``entry``'s deltas. ``latest`` is checkpointed, not
        persisted: a cached relation would embed its whole upstream
        plan in the rewrite's plan and re-print it at every AQE
        re-plan. The job that collects the touched buckets also checks
        that ``latest`` is key-unique: a key's bucket never changes, so
        after one shuffle by bucket every key count is exact."""
        from pyspark.sql import functions as F

        key = MERGE_KEYS[name]
        latest = frames.cut(latest)
        try:
            per_part = (
                latest.select(part_col, key)
                .repartition(part_col)
                .groupBy(part_col)
                .agg(F.count("*").alias("n"), F.countDistinct(key).alias("k"))
                .collect()
            )
            if any(r["n"] != r["k"] for r in per_part):
                raise ValueError(
                    f"fold of table {name!r}: duplicate {key!r} values in "
                    "one write"
                )
            dparts = sorted(r[part_col] for r in per_part)
            parts = entry.get("parts", {})
            rels = [parts[str(p)] for p in dparts if str(p) in parts]
            resolved = self._resolve(
                name, self._read_rels(name, rels), latest, latest_rows
            )
            self.stage_overwrite_parts(
                name, resolved, part_col, dparts, clear_deltas=True
            )
        finally:
            frames.release(latest)
        return dparts

    def stage_append(self, name: str, df: DataFrame) -> None:
        """Append a new data file set to ``name`` (extracted, lineage —
        the append-only fact tables)."""
        rel, absdir = self._new_version_dir(name)
        df.write.mode("overwrite").parquet(absdir)
        prev = self._staged.get(name) or self.manifest["tables"].get(name, {})
        paths = list(prev.get("paths", []))
        with self._staged_mutex:
            self._staged[name] = {
                "paths": paths + [rel],
                "path_rows": (
                    prev["path_rows"] if paths else []
                ) + [_dir_row_count(absdir)],
                "next_version": int(rel.rsplit("v", 1)[1]) + 1,
            }

    # --------------------------------------------------------------- commit
    def commit(self, epoch: int) -> None:
        """Atomically publish all staged table versions as epoch ``epoch``.

        The ``os.replace`` of the manifest is the commit point (crash
        before it → old snapshot intact; crash after → new snapshot
        fully visible). Mirrors Iceberg's atomic metadata swap.

        Acquires ``write_lock`` itself (reentrant — transaction holders
        are unaffected): a direct caller publishing beside a streaming
        transaction serializes at the commit point by construction
        instead of relying purely on call-site convention.
        """
        with self.write_lock:
            self._commit_locked(epoch)

    def _commit_locked(self, epoch: int) -> None:
        new = {
            "snapshot_id": self.manifest["snapshot_id"] + 1,
            "epoch": epoch,
            "tables": dict(self.manifest["tables"]),
        }
        for name, entry in self._staged.items():
            new["tables"][name] = dict(entry)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(new, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())
        self.manifest = new
        self._staged = {}
        self._written = set()

    def vacuum(self) -> list[str]:
        """Delete version directories (and partition subdirectories)
        that no committed or staged manifest entry references — the
        Iceberg ``expire_snapshots + remove_orphan_files`` analogue.
        Returns the removed rel paths.

        Superseded files accumulate from every partition overwrite and
        compaction (the manifest holds only the CURRENT snapshot, so a
        replaced version dir is dead the moment the commit lands); at
        10^10 scale an unvacuumed catalog grows without bound. The live
        set spans ALL tables' paths, so by-reference entries
        (``seen_exact`` → frontier files) protect their targets even
        after the owning table moved on.

        Granularity: a whole version dir when nothing inside it is
        live, else just its dead ``_pid=N`` children (partition
        overwrite carries untouched buckets over by reference INTO old
        version dirs, so those dirs stay partially live).

        Contract (same as Iceberg expire): call AFTER commit, and not
        while lazy DataFrames from older snapshots are still to be
        executed in this process — their file lists are already bound.
        """
        live: set[str] = set()
        for cname in self.manifest["tables"]:
            live |= set(self._entry_paths(self.manifest["tables"][cname]))
        for entry in self._staged.values():
            live |= set(self._entry_paths(entry))
        removed: list[str] = []
        tables = set(self.manifest["tables"])
        for tdir in sorted(os.listdir(self.root)):
            tabs = os.path.join(self.root, tdir)
            # only walk directories the manifest names as tables:
            # non-table residents of the root (the Structured Streaming
            # checkpoint at _stream_ckpt, user scratch dirs) are not
            # ours to expire — vacuuming mid-stream would delete the
            # live query's offsets/commits
            if not os.path.isdir(tabs) or tdir not in tables:
                continue
            for ver in sorted(os.listdir(tabs)):
                rel = f"{tdir}/{ver}"
                vabs = os.path.join(tabs, ver)
                if not os.path.isdir(vabs) or rel in live:
                    continue
                children = sorted(os.listdir(vabs))
                if not any(f"{rel}/{c}" in live for c in children):
                    shutil.rmtree(vabs, ignore_errors=True)
                    removed.append(rel)
                    continue
                for c in children:
                    crel = f"{rel}/{c}"
                    cabs = os.path.join(vabs, c)
                    if os.path.isdir(cabs) and crel not in live:
                        shutil.rmtree(cabs, ignore_errors=True)
                        removed.append(crel)
        return removed

    def rollback_staged(self) -> None:
        """Drop staged (uncommitted) writes — crash-recovery analogue.

        Deletes every version directory allocated since the last commit:
        the staged ones, those a later stage of the same table
        superseded, and those of writes that failed before staging.
        Committed files are never among them (version numbers are
        fresh), and by-reference entries (stage_append_ref) write none.

        Acquires ``write_lock`` (see :meth:`commit`)."""
        with self.write_lock:
            for rel in self._written:
                shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            self._written = set()
            self._staged = {}
