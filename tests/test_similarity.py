"""ANN similarity search: brute-force correctness + IVF recall."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hiispider_spark.operators import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_exact_values(spark):
    vecs = _vecs(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
    )
    got = {
        r.neighbor_id: r.cos_sim
        for r in sim.brute_force_topk(vecs, [0], k=3).collect()
    }
    assert got[1] == 0.0
    assert abs(got[2] - round(1 / math.sqrt(2), 6)) < 1e-9
    assert got[3] == -1.0


def test_topk_rank_deterministic(spark):
    # two neighbors with identical similarity → lower vec_id ranks first
    vecs = _vecs(
        spark,
        [(0, [1.0, 0.0]), (5, [2.0, 0.0]), (3, [3.0, 0.0]), (9, [0.0, 1.0])],
    )
    rows = sim.brute_force_topk(vecs, [0], k=3).collect()
    assert [(r.neighbor_id, r.rank) for r in rows] == [(3, 1), (5, 2), (9, 3)]


def test_brute_force_on_driver_embeddings(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = sim.brute_force_topk(emb, [0, 1, 2], k=5)
    rows = out.collect()
    assert len(rows) == 15
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append((r.rank, r.cos_sim, r.neighbor_id))
    for q, rs in per_q.items():
        rs.sort()
        sims = [s for _, s, _ in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(n != q for _, _, n in rs)


def test_cosine_near_dup_pairs(spark):
    vecs = _vecs(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.1]),   # ≈0.995 vs 0
            (2, [0.0, 1.0]),    # orthogonal
            (3, [1.0, 0.05]),   # ≈0.999 vs 0, ≈0.998 vs 1
        ],
    )
    pairs = {
        (r.vec_a, r.vec_b)
        for r in sim.cosine_near_dup_pairs(vecs, threshold=0.9).collect()
    }
    assert pairs == {(0, 1), (0, 3), (1, 3)}
    # ordering invariant: a < b always
    for a, b in pairs:
        assert a < b


def test_ivf_recall_vs_brute_force(spark):
    """IVF with n_probe=1 is approximate; on the driver embeddings it
    should still recover a meaningful fraction of true neighbors, and
    every IVF result must come from the query's own centroid bucket."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = list(range(5))
    bf = sim.brute_force_topk(emb, qids, k=5).collect()
    ivf = sim.ivf_topk(emb, qids, k=5, every=50).collect()
    truth = {(r.query_id, r.neighbor_id) for r in bf}
    got = {(r.query_id, r.neighbor_id) for r in ivf}
    assert len(got) > 0
    recall = len(truth & got) / len(truth)
    assert recall >= 0.2  # single-probe IVF on random vectors is rough
    assign = {r.vec_id: r.centroid_id for r in sim.assign_centroids(emb, 50).collect()}
    for r in ivf:
        assert assign[r.neighbor_id] == assign[r.query_id]


def test_kmeans_quantizer_deterministic_and_trained(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1 = sim.kmeans_centroids(emb, n_centroids=8, n_iter=3)
    c2 = sim.kmeans_centroids(emb, n_centroids=8, n_iter=3)
    assert c1 == c2  # fully deterministic, rounding kills float drift
    assert 1 <= len(c1) <= 8
    dim = emb.select(F.size("embedding")).first()[0]
    assert all(len(cv) == dim for _, cv in c1)
    # hash-sampled training stays deterministic and usable
    cs = sim.kmeans_centroids(emb, n_centroids=8, n_iter=2, sample_mod=4)
    assert cs == sim.kmeans_centroids(emb, n_centroids=8, n_iter=2, sample_mod=4)


def test_ivf_kmeans_recall_and_bucket_containment(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = list(range(5))
    cents = sim.kmeans_centroids(emb, n_centroids=10, n_iter=3)
    bf = sim.brute_force_topk(emb, qids, k=5).collect()
    ivf = sim.ivf_topk(emb, qids, k=5, centroids=cents).collect()
    truth = {(r.query_id, r.neighbor_id) for r in bf}
    got = {(r.query_id, r.neighbor_id) for r in ivf}
    assert len(got) > 0
    assert len(truth & got) / len(truth) >= 0.2
    assign = {
        r.vec_id: r.centroid_id
        for r in sim.assign_centroids(emb, centroids=cents).collect()
    }
    for r in ivf:
        assert assign[r.neighbor_id] == assign[r.query_id]


def test_ivf_multiprobe_recall_monotone(spark):
    """n_probe must actually widen the candidate set: recall vs brute
    force is monotone non-decreasing in n_probe, and probing every
    bucket recovers brute force exactly."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = list(range(5))
    cents = sim.kmeans_centroids(emb, n_centroids=10, n_iter=3)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, qids, k=5).collect()
    }
    recalls = []
    for n_probe in (1, 2, 4, len(cents)):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.ivf_topk(
                emb, qids, k=5, centroids=cents, n_probe=n_probe
            ).collect()
        }
        recalls.append(len(truth & got) / len(truth))
    assert recalls == sorted(recalls)  # monotone non-decreasing
    assert recalls[-1] == 1.0  # all buckets probed == exact
    assert recalls[-1] > recalls[0]  # the knob changes the result


def test_ivf_multiprobe_candidates_from_probed_buckets(spark):
    """Every n_probe=2 result comes from one of the query's 2 nearest
    centroid buckets (and the first probe is the argmax assignment)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = list(range(5))
    cents = sim.kmeans_centroids(emb, n_centroids=10, n_iter=3)
    probes = {
        r.vec_id: list(r.p)
        for r in emb.filter(F.col("vec_id").isin(qids))
        .select(
            "vec_id",
            sim.probe_centroids_col(
                F.transform("embedding", lambda x: x.cast("double")),
                cents,
                2,
            ).alias("p"),
        )
        .collect()
    }
    assign = {
        r.vec_id: r.centroid_id
        for r in sim.assign_centroids(emb, centroids=cents).collect()
    }
    for q, ps in probes.items():
        assert ps[0] == assign[q]  # probe[0] == argmax assignment
    ivf = sim.ivf_topk(emb, qids, k=5, centroids=cents, n_probe=2).collect()
    for r in ivf:
        assert assign[r.neighbor_id] in probes[r.query_id]


def test_hyperplane_empty_corpus(spark):
    empty = _vecs(spark, [])
    assert sim.hyperplane_near_dup_pairs(empty, threshold=0.9).count() == 0


def _planted_corpus(spark, sf_dir=SF_DIR, n_twins=100):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.planted_near_dup_corpus(emb, n_twins), n_twins


def test_hyperplane_lsh_finds_planted_near_dups(spark):
    corpus, n_twins = _planted_corpus(spark)
    got = sim.hyperplane_near_dup_pairs(corpus, threshold=0.9)
    pairs = {(r.vec_a, r.vec_b) for r in got.collect()}
    planted = {(i, i + 100_000) for i in range(n_twins)}
    # recall on true near-dups (sim≈0.999): banding theory says ≈1.0
    assert len(pairs & planted) >= 0.95 * n_twins
    # exact precision: emitted ⊆ exact all-pairs result
    exact = {
        (r.vec_a, r.vec_b)
        for r in sim.cosine_near_dup_pairs(corpus, threshold=0.9).collect()
    }
    assert pairs <= exact


def test_hyperplane_lsh_candidates_subquadratic(spark):
    corpus, _ = _planted_corpus(spark)
    n = corpus.count()
    # threshold=-1 emits every candidate pair the banding produced
    n_cand = sim.hyperplane_near_dup_pairs(corpus, threshold=-1.0).count()
    assert n_cand < 0.10 * n * (n - 1) / 2


def test_hyperplane_bucket_cap_bounds_identical_family(spark, caplog):
    """200 identical embeddings share every band value; the cap keeps
    the 8 lowest vec_ids per bucket → C(8,2) verified pairs (cos 1.0),
    instead of ~20k uncapped candidates, and log_dropped WARNs what it
    dropped. Below the cap, capped output is byte-identical to uncapped
    (oracle safety)."""
    import logging

    fam = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(200)]
    vecs = _vecs(spark, fam)
    with caplog.at_level(logging.WARNING, logger="hiispider_spark.operators.dedup"):
        capped = sim.hyperplane_near_dup_pairs(
            vecs, threshold=0.9, bucket_cap=8, log_dropped=True
        ).collect()
    # 8 bands x one hot bucket x (200 - 8) vectors past the cap
    assert any(
        m.startswith("hyperplane_near_dup_pairs: bucket_cap=8 dropped 1536 ")
        for m in caplog.messages
    )
    assert len(capped) == 8 * 7 // 2
    assert all(r.cos_sim == 1.0 for r in capped)
    ids = {r.vec_a for r in capped} | {r.vec_b for r in capped}
    assert ids == set(range(8))
    # no-overflow corpus: capped == uncapped
    small = _vecs(spark, [(i, [1.0 * (i + 1), 2.0, 0.5 * i, 1.0]) for i in range(6)])
    a = sorted(map(tuple, sim.hyperplane_near_dup_pairs(small, 0.5, bucket_cap=None).collect()))
    b = sorted(map(tuple, sim.hyperplane_near_dup_pairs(small, 0.5).collect()))
    assert a == b


def test_lit_vecs_bit_identical_to_flit(spark):
    """_lit_vecs (SQL-parsed double literals — the O(1)-round-trip
    plan-build path) must be BIT-identical to the F.lit route for
    adversarial doubles: repr() is the shortest round-trip decimal and
    Spark's double-literal parse is correctly rounded."""
    import math
    import struct

    from pyspark.sql import functions as F

    from hiispider_spark.operators.similarity import _lit_vecs

    vals = [
        0.1, -0.1, 1e-300, -1e300, 2.0 ** -1074, 1.7976931348623157e308,
        1 / 3, math.pi, -0.0, 0.0, 123456789.123456789, 5e-324,
    ]
    df = spark.range(1)
    got = df.select(_lit_vecs([vals]).alias("v")).collect()[0]["v"][0]
    want = df.select(
        F.array(F.array(*[F.lit(x) for x in vals])).alias("v")
    ).collect()[0]["v"][0]
    assert [struct.pack("<d", g) for g in got] == [
        struct.pack("<d", w) for w in want
    ]
