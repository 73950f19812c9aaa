"""A failed epoch leaves no trace.

run_epoch owns its transaction: whatever fails from the dequeue on, it
cancels the write jobs not yet started, waits for the running ones,
rolls back everything staged and releases every checkpoint it cut. Each
case below fails epoch 2 of the tiny corpus at one point — every
``stage_*`` call the epoch makes, each keyed state write in both its
fold and its append form, and the counts collect before the write pool
— and checks that

- the manifest is byte-identical to before the epoch,
- no version directory is left that the manifest does not reference:
  the file tree is exactly as before (superseded directories that an
  epoch without a fold does not vacuum exist before it already),
- the persistent-RDD id set did not grow,
- a retried epoch 2 reproduces epoch 2 of the frozen commit state.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from hiispider_spark.operators import politeness as pol
from hiispider_spark.plans.epoch import bootstrap, run_epoch
from hiispider_spark.sources.catalog import IcebergLike
from tests.test_checkpoint_boundaries import _persistent_rdd_ids
from tests.test_frontier_deltas import (
    DELTA_CFG,
    GOLDEN,
    _commit_state,
    _golden_text,
)

#: epoch 2 appends a delta to every keyed state table (APPEND) or
#: folds all three (FOLD: the second pending delta trips compact_every)
APPEND = DELTA_CFG
FOLD = replace(DELTA_CFG, compact_every=2)

# (id, config, IcebergLike method, table); "collect" fails the counts
# job before the write pool starts
CASES = [
    ("politeness-append", APPEND, "stage_append_delta", "politeness"),
    ("page_cache-append", APPEND, "stage_append_delta", "page_cache"),
    ("frontier-append", APPEND, "stage_append_delta", "frontier"),
    ("politeness-fold", FOLD, "stage_upsert_fold", "politeness"),
    ("page_cache-fold", FOLD, "stage_upsert_fold", "page_cache"),
    ("frontier-fold", FOLD, "stage_upsert_fold", "frontier"),
    ("neg_cache", APPEND, "stage_overwrite", "neg_cache"),
    ("extracted", APPEND, "stage_append", "extracted"),
    ("lineage", APPEND, "stage_append", "lineage"),
    ("seen_set", APPEND, "stage_overwrite_parts", "seen_set"),
    ("seen_exact-append", APPEND, "stage_append_ref", "seen_exact"),
    ("seen_exact-replace", FOLD, "stage_append_ref", "seen_exact"),
    ("counts-collect", APPEND, "collect", None),
]


@pytest.fixture(scope="module")
def after_epoch_1(spark, tiny_seeds, tiny_pages, tiny_robots, tmp_path_factory):
    """One catalog per config, committed through epoch 1 (copied, never
    written, by the cases)."""
    tiny_pages.count()  # fill the shared page cache outside the epochs
    roots = {}
    for cfg in (APPEND, FOLD):
        root = str(tmp_path_factory.mktemp("rollback_template"))
        cat = IcebergLike(spark, root)
        bootstrap(spark, cat, tiny_seeds, cfg)
        run_epoch(spark, cat, tiny_pages, tiny_robots, cfg)
        roots[cfg] = root
    return roots


def _failing(df):
    # the Spark job that evaluates this frame fails on its first row; an
    # added all-null row makes sure there is one (neg_cache can be empty)
    nulls = df.sparkSession.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in df.schema]
    )
    col = F.coalesce(F.col(df.columns[0]).cast("string"), F.lit(""))
    return df.unionByName(nulls).filter(
        F.raise_error(F.concat(F.lit("injected "), col)).isNull()
    )


def _inject(monkeypatch, method: str, table: str | None, hits: list) -> None:
    if method == "collect":
        split = pol.split_robots

        def split_robots(*a, **k):
            allowed, denied = split(*a, **k)
            hits.append(method)
            return allowed, _failing(denied)

        monkeypatch.setattr(pol, "split_robots", split_robots)
        return
    orig = getattr(IcebergLike, method)

    def wrapped(self, name, arg, *a, **k):
        if name == table:
            hits.append(method)
            if method == "stage_append_ref":
                raise RuntimeError("injected reference failure")
            arg = _failing(arg)
        return orig(self, name, arg, *a, **k)

    monkeypatch.setattr(IcebergLike, method, wrapped)


def _file_tree(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


@pytest.mark.parametrize(
    "cfg,method,table", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_failed_epoch_leaves_catalog_as_found(
    spark, after_epoch_1, tiny_pages, tiny_robots, tmp_path, monkeypatch,
    cfg, method, table,
):
    root = str(tmp_path / "cat")
    shutil.copytree(after_epoch_1[cfg], root)
    cat = IcebergLike(spark, root)
    with open(os.path.join(root, "manifest.json"), "rb") as f:
        manifest = f.read()
    tree = _file_tree(root)

    hits: list = []
    _inject(monkeypatch, method, table, hits)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(Exception, match="injected"):
        run_epoch(spark, cat, tiny_pages, tiny_robots, cfg)
    leaked = _persistent_rdd_ids(spark) - before
    monkeypatch.undo()

    assert hits
    assert leaked == set()
    with open(os.path.join(root, "manifest.json"), "rb") as f:
        assert f.read() == manifest
    assert _file_tree(root) == tree
    assert cat.epoch == 1 and not cat._staged

    st = run_epoch(spark, cat, tiny_pages, tiny_robots, cfg)
    assert st["epoch"] == 2
    if cfg is FOLD:
        assert set(st["compacted"]) == {"frontier", "page_cache", "politeness"}
    got = json.loads(_golden_text([_commit_state(cat, st)]))[0]
    assert got == json.loads(GOLDEN.read_text())[1]


def test_epoch_rejects_filters_of_another_width(
    spark, after_epoch_1, tiny_pages, tiny_robots, tmp_path
):
    """The config is not stored with the catalog: resuming filters built
    at 2^17 bits with bloom_m_bits=2^16 would probe their lower half, and
    a seen URL would skip the exact anti-join as "definitely new". The
    epoch fails on the filter rows instead and leaves no trace."""
    root = str(tmp_path / "cat")
    shutil.copytree(after_epoch_1[APPEND], root)
    cat = IcebergLike(spark, root)
    with open(os.path.join(root, "manifest.json"), "rb") as f:
        manifest = f.read()
    tree = _file_tree(root)

    before = _persistent_rdd_ids(spark)
    narrow = replace(APPEND, bloom_m_bits=APPEND.bloom_m_bits // 2)
    with pytest.raises(Exception, match="built with another bloom_m_bits"):
        run_epoch(spark, cat, tiny_pages, tiny_robots, narrow)

    assert _persistent_rdd_ids(spark) - before == set()
    with open(os.path.join(root, "manifest.json"), "rb") as f:
        assert f.read() == manifest
    assert _file_tree(root) == tree
    assert cat.epoch == 1 and not cat._staged
