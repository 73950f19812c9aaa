"""Catalog vacuum — superseded-file reclamation (catalog.vacuum)."""

import os

from hiispider_spark.sources.catalog import IcebergLike


def _dirs(root, table):
    t = os.path.join(root, table)
    return sorted(os.listdir(t)) if os.path.isdir(t) else []


def _mk(spark, tmp_path):
    return IcebergLike(spark, str(tmp_path / "cat"))


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "part_id int, url_hash long, v int")


def test_vacuum_removes_superseded_snapshots(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    cat.stage_overwrite("neg_cache_t", _rows(spark, [(0, 1, 1)]))
    cat.commit(epoch=0)
    cat.stage_overwrite("neg_cache_t", _rows(spark, [(0, 1, 2)]))
    cat.commit(epoch=1)
    assert _dirs(cat.root, "neg_cache_t") == ["v000001", "v000002"]
    removed = cat.vacuum()
    assert removed == ["neg_cache_t/v000001"]
    assert _dirs(cat.root, "neg_cache_t") == ["v000002"]
    assert [r.v for r in cat.read("neg_cache_t").collect()] == [2]


def test_vacuum_skips_non_table_dirs(spark, tmp_path):
    """Directories the manifest does not name as tables — the live
    Structured Streaming checkpoint at _stream_ckpt, user scratch —
    are not ours to expire: vacuuming them mid-stream would delete
    the running query's offsets/commits."""
    cat = _mk(spark, tmp_path)
    cat.stage_overwrite("neg_cache_t", _rows(spark, [(0, 1, 1)]))
    cat.commit(epoch=0)
    ckpt = os.path.join(cat.root, "_stream_ckpt", "offsets")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "0"), "w") as f:
        f.write("{}")
    scratch = os.path.join(cat.root, "scratch", "v000001")
    os.makedirs(scratch)
    removed = cat.vacuum()
    assert removed == []
    assert os.path.exists(os.path.join(ckpt, "0"))
    assert os.path.isdir(scratch)


def test_vacuum_partition_granularity(spark, tmp_path):
    """An old version dir whose untouched buckets are still referenced
    loses only its dead _pid children."""
    cat = _mk(spark, tmp_path)
    cat.stage_overwrite_parts(
        "tb", _rows(spark, [(0, 10, 1), (1, 11, 1)]), "part_id", [0, 1]
    )
    cat.commit(epoch=0)
    cat.stage_overwrite_parts(
        "tb", _rows(spark, [(1, 11, 2)]), "part_id", [1]
    )
    cat.commit(epoch=1)
    before = {(r.part_id, r.v) for r in cat.read("tb").collect()}
    assert before == {(0, 1), (1, 2)}
    removed = cat.vacuum()
    assert removed == ["tb/v000001/_pid=1"]
    # v1 keeps _pid=0 (still referenced), v2 holds the new _pid=1
    assert os.path.isdir(os.path.join(cat.root, "tb/v000001/_pid=0"))
    assert not os.path.exists(os.path.join(cat.root, "tb/v000001/_pid=1"))
    assert {(r.part_id, r.v) for r in cat.read("tb").collect()} == before


def test_vacuum_respects_cross_table_references(spark, tmp_path):
    """seen_exact references another table's files by manifest ref —
    those files survive vacuum even after the owner superseded them."""
    cat = _mk(spark, tmp_path)
    df = spark.createDataFrame([(1,), (2,)], "url_hash long")
    cat.stage_append("frontier_hist", df)
    cat.commit(epoch=0)
    ref = cat.manifest["tables"]["frontier_hist"]["paths"][:]
    cat.stage_append_ref("seen_exact", "frontier_hist")
    # owner moves to a fresh snapshot (paths-form: replace by staging a
    # new overwrite)
    cat.stage_overwrite("frontier_hist", spark.createDataFrame([(3,)], "url_hash long"))
    cat.commit(epoch=1)
    assert cat.vacuum() == []  # v1 lives on through the seen_exact ref
    assert os.path.isdir(os.path.join(cat.root, ref[0]))
    assert {r.url_hash for r in cat.read("seen_exact").collect()} == {1, 2}


def test_vacuum_keeps_staged_uncommitted(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    cat.stage_overwrite("t1", _rows(spark, [(0, 1, 1)]))
    cat.commit(epoch=0)
    cat.stage_overwrite("t1", _rows(spark, [(0, 1, 2)]))  # staged only
    removed = cat.vacuum()
    assert removed == []  # v1 committed-live, v2 staged-live
    cat.commit(epoch=1)
    assert cat.vacuum() == ["t1/v000001"]


def test_epoch_vacuum_reclaims_after_compaction(spark, tmp_path, monkeypatch):
    """Driving epochs past the compaction bound reclaims every
    superseded frontier file; the catalog stays resumable and
    byte-identical to a twin whose vacuum is patched to a no-op."""
    from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epochs
    from hiispider_spark.sources.synth import (
        SynthConfig,
        synth_pages,
        synth_robots,
        synth_seeds,
    )

    sf = "/root/testdata/sf0.001"
    tiny = SynthConfig(n_pages=200, n_docs=500)
    pages = synth_pages(spark, sf, tiny).persist()
    robots = synth_robots(spark, sf, tiny)
    seeds = synth_seeds(spark, sf, tiny)
    cfg = EpochConfig(
        k_per_partition=4,
        n_partitions=4,
        bloom_m_bits=1 << 17,
        compact_every=2,
        boot_stagger_s=0,
    )
    outs = {}
    for tag in ("vac", "novac"):
        with monkeypatch.context() as m:
            if tag == "novac":
                m.setattr(IcebergLike, "vacuum", lambda self: [])
            cat = IcebergLike(spark, str(tmp_path / tag))
            bootstrap(spark, cat, seeds, cfg)
            run_epochs(spark, cat, pages, robots, 3, cfg)
        outs[tag] = cat
    va, nv = outs["vac"], outs["novac"]
    for tbl in ("frontier", "extracted", "page_cache"):
        a = sorted(map(tuple, va.read(tbl).collect()))
        b = sorted(map(tuple, nv.read(tbl).collect()))
        assert a == b, tbl
    # the vacuumed catalog holds strictly fewer files
    n_files = lambda c: sum(len(fs) for _, _, fs in os.walk(c.root))
    assert n_files(va) < n_files(nv)
    # fresh open (resume) still reads everything
    again = IcebergLike(spark, va.root)
    assert again.read("frontier").count() == va.read("frontier").count()
    pages.unpersist()
