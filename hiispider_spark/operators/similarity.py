"""Similarity search over embedding columns (array<float>).

Two paths, both over the driver's ``embeddings`` table:

- brute-force cosine top-k — the exactness baseline. Query side is
  small → broadcast; dot products are pure Column expressions
  (``zip_with`` + ``aggregate``), JVM-side, no UDF. At 100 TB this is
  one scan of the corpus per query batch.
- IVF-style bucketed ANN — the scale path: a deterministic coarse
  quantizer (every C-th vector is a "centroid"), vectors are assigned
  to their nearest centroid once (write-time), and a query only scans
  its centroid's bucket: scan cost drops by ~n_centroids×. Recall is
  tested against the brute-force baseline.

All similarities are rounded to 6 decimals *before* ranking, with
vec_id as the total tie-break, so results are stable across engines
(Spark vs DuckDB oracle) and parallelism levels.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hiispider_spark.operators.dedup import (
    DEFAULT_BUCKET_CAP,
    _cap_buckets,
    _log_overflow,
    _mh_splitmix,
)


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim) — self
    excluded, ranked by rounded sim DESC then neighbor_id ASC."""
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    ).withColumn("qn", norm_col(F.col("qv")))
    # norms are pair-independent → computed once per row BEFORE the
    # pair join (HOF array passes are interpreted — the naive cosine's
    # 3 passes/pair become 1 dot/pair; same ops, same order, 6dp round
    # → bit-identical sims)
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    ).withColumn("cn", norm_col(F.col("cv")))
    scored = (
        c.join(F.broadcast(q))  # small query side × corpus scan
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_col(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, cos_sim)
    with vec_a < vec_b and rounded sim ≥ threshold.

    Sandbox: exact all-pairs (broadcast one side). At corpus scale this
    is the verify stage behind a blocking prefilter — LSH buckets
    (random hyperplanes) or the IVF assignment below — so the quadratic
    term only applies within blocks.
    """
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), _as_double(F.col("embedding")).alias("va")
    ).withColumn("na", norm_col(F.col("va")))
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), _as_double(F.col("embedding")).alias("vb")
    ).withColumn("nb", norm_col(F.col("vb")))
    # per-row norms precomputed before the quadratic join (see
    # brute_force_topk) — 3 interpreted array passes/pair → 1
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_col(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _plane(j: int, dim: int) -> list[float]:
    """Hyperplane j: components in [-1, 1), pure function of (j, i)
    through the splitmix64 finalizer — no runtime RNG."""
    return [
        (_mh_splitmix(j * 1_000_003 + i) / float(1 << 63)) - 1.0
        for i in range(dim)
    ]


def hyperplane_signature_bits(
    v: Column, dim: int, n_planes: int = 64
) -> Column:
    """Sign-LSH bits as ONE array<int>: bit_j = [v · plane_j > 0],
    planes deterministic.

    Pure Column expression (one transform over a parsed literal of all
    plane vectors) — JVM-side, no UDF, and O(1) py4j lambda
    conversions at plan build (the former per-bit column list cost
    n_planes separate dot_col constructions ≈ 1.3 s of driver wall at
    64 planes). P(bit agrees) = 1 - angle(a,b)/π, the standard
    random-hyperplane guarantee (Charikar '02).
    """
    planes = _lit_vecs([_plane(j, dim) for j in range(n_planes)])
    return F.transform(planes, lambda p: (dot_col(v, p) > 0).cast("int"))


def hyperplane_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 64,
    bands: int = 8,
    dim: int | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    log_dropped: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via random-hyperplane LSH blocking + exact
    cosine verify — the shape that survives 10^9 vectors, where the
    exact all-pairs join in :func:`cosine_near_dup_pairs` cannot.

    signature → ``bands`` bands of ``n_planes//bands`` bits → candidates
    = pairs sharing any band value → exact cosine ≥ threshold inside
    candidates only. Band keys are high-cardinality and uniform, so the
    band self-join shuffle balances (same argument as MinHash LSH).

    Precision is exact (every emitted pair is verified); recall is
    1-(1-p^r)^b with p = 1-acos(sim)/π — ≈0.99 for sim ≥ 0.95 at the
    defaults, falling fast below ~0.85: this is a HIGH-threshold
    near-dup detector. Mid-threshold regimes (e.g. 0.3 on this synthetic
    corpus) have no sub-quadratic exact path — use the all-pairs verify
    or IVF bucketing and accept its recall instead.

    ``bucket_cap`` bounds the per-(band_idx, band_value) self-join
    against boilerplate blowup (10M near-identical embeddings share
    every band value → ~10^14 candidates in one bucket); rank-by-vec_id
    keep-k compiles to WindowGroupLimit, so hot buckets bound map-side
    (see dedup.DEFAULT_BUCKET_CAP; log_dropped=True WARNs what was
    capped). Caveat: band values carry only n_planes//bands bits —
    256 distinct values at the defaults — so ORDINARY (non-boilerplate)
    buckets average above the 512 cap from roughly 256×512 ≈ 1.3×10^5
    vectors and candidate recall degrades from there, NOT only at 10^7:
    scale n_planes/bands with corpus size so buckets stay selective
    (e.g. 128 planes/8 bands → 65k band values carries ~3×10^7), and
    run with log_dropped=True (or monitor band_bucket_overflow) in any
    production pipeline; the cap is a safety valve, not the scaling
    mechanism.
    """
    if dim is None:
        first = embeddings.select(F.size("embedding")).first()
        if first is None:  # empty corpus → no pairs (dim is irrelevant)
            return embeddings.select(
                F.col("vec_id").alias("vec_a"),
                F.col("vec_id").alias("vec_b"),
                F.lit(0.0).alias("cos_sim"),
            ).limit(0)
        dim = first[0]
    rows_per_band = n_planes // bands
    sig = embeddings.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        # the full bit array is a non-cheap alias, so CollapseProject
        # keeps it in its own project — the 64 GetArrayItem references
        # below never duplicate the transform
        hyperplane_signature_bits(
            _as_double(F.col("embedding")), dim, n_planes
        ).alias("bits"),
    )
    band_vals = [
        sum(
            (F.col("bits")[b * rows_per_band + r] * (1 << r))
            for r in range(rows_per_band)
        )
        for b in range(bands)
    ]
    stacked = sig.select(
        "vec_id", "v", F.posexplode(F.array(*band_vals)).alias("band_idx", "bh")
    )
    if bucket_cap is not None:
        if log_dropped:
            _log_overflow(stacked, bucket_cap, "hyperplane_near_dup_pairs")
        stacked = _cap_buckets(stacked, bucket_cap, order_col="vec_id")
    a, b_ = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return (
        cand.withColumn("na", norm_col(F.col("va")))
        .withColumn("nb", norm_col(F.col("vb")))
        .withColumn(
            "cos_sim",
            F.round(
                dot_col(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def planted_near_dup_corpus(
    embeddings: DataFrame, n_twins: int = 100, id_offset: int = 100_000
) -> DataFrame:
    """Corpus + deterministic near-duplicate twins for exercising the
    LSH path (the raw synthetic corpus has no true near-dups — its
    pairwise sims are ~N(0, 0.1)). Twin = element-wise multiplicative
    perturbation keyed on the element index (no runtime RNG, no outer
    column refs inside the lambda); cos(twin, original) ≳ 0.999."""
    emb = embeddings.select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < n_twins).select(
        (F.col("vec_id") + id_offset).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (
                x
                * (
                    1.0
                    + (F.pmod(i * 37, F.lit(100)).cast("double") / 100.0 - 0.5)
                    * 0.05
                )
            ).cast("float"),
        ).alias("embedding"),
    )
    return emb.unionByName(twins)


def _lit_vecs(rows: list[list[float]]) -> Column:
    """array<array<double>> literal via ONE parsed SQL expression.

    ``F.lit(list)`` expands to a per-element ``lit()`` py4j call
    (PySpark implements list literals as ``array(*map(lit, ...))``), so
    a 40×64 centroid table costs ~2,560 driver round-trips ≈ 1.7 s of
    plan-build wall per call site. Emitting the same values as a SQL
    string parsed JVM-side costs ~5 ms and is value-identical:
    ``repr(float)`` is the shortest round-trip decimal and Spark's
    double-literal parse is correctly rounded, so every component is
    bit-identical to the ``F.lit`` route (measured: collected arrays
    compare equal).
    """
    for ri, row in enumerate(rows):
        for ci, x in enumerate(row):
            if not math.isfinite(float(x)):
                # repr() would render 'nanD'/'infD', which fails Spark's
                # SQL parse with an opaque AnalysisException at plan
                # build — name the offending element instead (a NaN here
                # usually means an empty k-means cluster leaked through)
                raise ValueError(
                    f"_lit_vecs: non-finite component {x!r} at "
                    f"row {ri}, index {ci}"
                )
    body = ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in row) + ")"
        for row in rows
    )
    return F.expr(f"array({body})")


def _py_norm(cv: list[float]) -> float:
    """Python twin of norm_col over a literal centroid — same
    summation order, same IEEE doubles, so sims round identically."""
    acc = 0.0
    for x in cv:
        acc = acc + x * x
    return acc ** 0.5


def _centroid_sims(
    v: Column, cents: list[tuple[int, list[float]]], v_norm: Column | None
) -> Column:
    """(sim, -centroid_id) struct array against literal centroids.

    Cost shape matters here: HOF expressions are INTERPRETED (CodegenFallback),
    so every array pass costs ~µs/element. The naive cosine per centroid
    does 3 passes (dot + both norms) — but ‖centroid‖ is a PYTHON
    constant (folded here via _py_norm, bit-identical to norm_col), and
    ‖v‖ is centroid-independent (callers precompute it once per row via
    ``v_norm``). That leaves ONE array pass (the dot) per centroid:
    measured ~2.5× faster assignment at k=40, and the multiplier grows
    with k. Results are bit-identical: same ops, same order, 6dp round.

    Plan-BUILD cost matters too: k separate ``dot_col`` expressions
    cost k×(zip_with + aggregate) py4j lambda conversions (~20-50 ms
    each — ~4 s of driver wall at k=40, paid again every Lloyd
    iteration). The whole struct array is therefore ONE ``zip_with``
    over two parsed literals (centroid vectors ‖ [norm, -id] meta):
    O(1) lambda conversions regardless of k, same per-element
    arithmetic in the same order (measured bit-identical sims and
    argmax on the full corpus). ``nid`` rides as a double; callers
    cast back to int after array_max/array_sort — struct ordering over
    equal numeric values is unchanged.
    """
    vn = v_norm if v_norm is not None else norm_col(v)
    cvs = _lit_vecs([list(cv) for _, cv in cents])
    meta = _lit_vecs([[_py_norm(cv), float(-cid)] for cid, cv in cents])
    return F.zip_with(
        cvs,
        meta,
        lambda cv, m: F.struct(
            F.round(dot_col(v, cv) / (vn * m[0]), 6).alias("sim"),
            m[1].alias("nid"),
        ),
    )


def nearest_centroid_col(
    v: Column,
    cents: list[tuple[int, list[float]]],
    v_norm: Column | None = None,
) -> Column:
    """Nearest-centroid id as a pure Column expression.

    Centroids are tiny (k × dim floats) so they live as literals inside
    the expression: assignment is argmax over an in-row struct array —
    one corpus scan, NO join, NO shuffle, per-row cost k·dim. This is
    the right 100 TB shape: the corpus scans once; nothing wide moves.
    Ties break toward the smallest centroid_id (struct comparison on
    (sim, -id), rounded to 6dp for cross-run stability). Pass a
    precomputed ``v_norm`` column to avoid re-deriving ‖v‖ (see
    :func:`_centroid_sims`).
    """
    return (-F.array_max(_centroid_sims(v, cents, v_norm))["nid"]).cast(
        "int"
    )


def probe_centroids_col(
    v: Column,
    cents: list[tuple[int, list[float]]],
    n_probe: int,
    v_norm: Column | None = None,
) -> Column:
    """Array of the ``n_probe`` nearest centroid ids, best first — the
    multi-probe generalization of :func:`nearest_centroid_col` (same
    literal-centroid, join-free, shuffle-free shape; element 0 always
    equals the argmax assignment, same (sim, -id) tie-break)."""
    pairs = _centroid_sims(v, cents, v_norm)
    topn = F.slice(F.reverse(F.array_sort(pairs)), 1, n_probe)
    return F.transform(topn, lambda s: (-s["nid"]).cast("int"))


def stride_centroids(
    embeddings: DataFrame, every: int = 50
) -> list[tuple[int, list[float]]]:
    """Toy deterministic quantizer: every ``every``-th vector is a
    centroid. Kept as the oracle-stable baseline quantizer."""
    return [
        (int(r[0]), list(r[1]))
        for r in embeddings.filter(F.col("vec_id") % every == 0)
        .select("vec_id", _as_double(F.col("embedding")))
        .collect()
    ]


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 20,
    n_iter: int = 5,
    sample_mod: int = 1,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd k-means coarse quantizer (IVF training).

    - init: per hash-bucket representative (min vec_id of
      ``pmod(xxhash64(vec_id), k)``) — deterministic, one aggregation,
      no global count;
    - iterate: assign via :func:`nearest_centroid_col` (shuffle-free),
      update = per-(centroid, dimension) mean via posexplode + hash agg
      (map-side combinable); components rounded to 6dp so float
      summation order can't leak nondeterminism into assignments;
    - ``sample_mod > 1`` trains on a deterministic hash sample — at
      10^9 vectors training touches ~n/sample_mod rows while the final
      full-corpus assignment stays one scan.

    Empty clusters drop out (k shrinks), matching standard Lloyd.
    """
    vecs = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    if sample_mod > 1:
        vecs = vecs.filter(
            F.pmod(F.xxhash64("vec_id"), F.lit(sample_mod)) == 0
        )
    # init + every Lloyd iteration scans vecs — persist once instead of
    # re-reading (and re-casting) the corpus n_iter+1 times; ‖v‖ never
    # changes across iterations, so it persists too (one pass, reused
    # n_iter times by the assignment expression)
    vecs = vecs.withColumn("vn", norm_col(F.col("v"))).persist()
    init = (
        vecs.withColumn(
            "centroid_id",
            F.pmod(F.xxhash64("vec_id"), F.lit(n_centroids)).cast("int"),
        )
        .groupBy("centroid_id")
        .agg(F.min_by("v", F.col("vec_id")).alias("cent"))
    )
    cents = [(int(r[0]), list(r[1])) for r in init.collect()]
    for _ in range(n_iter):
        assigned = vecs.withColumn(
            "centroid_id",
            nearest_centroid_col(F.col("v"), cents, v_norm=F.col("vn")),
        )
        mean = (
            assigned.select(
                "centroid_id", F.posexplode("v").alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform("pm", lambda s: F.round(s["m"], 6)).alias("cent"),
            )
        )
        cents = [(int(r[0]), list(r[1])) for r in mean.collect()]
    vecs.unpersist()
    return cents


def assign_centroids(
    embeddings: DataFrame,
    every: int = 50,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Deterministic IVF coarse assignment → (vec_id, centroid_id).

    ``centroids`` defaults to the stride quantizer (oracle-stable
    baseline); pass :func:`kmeans_centroids` output for trained buckets.
    Assignment is a single corpus scan with a literal-centroid argmax
    expression — no join, no shuffle (see nearest_centroid_col).
    """
    if centroids is None:
        centroids = stride_centroids(embeddings, every)
    return (
        embeddings.select(
            "vec_id", _as_double(F.col("embedding")).alias("_v")
        )
        .withColumn("_vn", norm_col(F.col("_v")))
        .select(
            "vec_id",
            nearest_centroid_col(
                F.col("_v"), centroids, v_norm=F.col("_vn")
            ).alias("centroid_id"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    every: int = 50,
    n_probe: int = 1,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF ANN: search only the query's ``n_probe`` nearest centroid
    buckets.

    n_probe=1 scans ~1/n_centroids of the corpus per query; raising
    n_probe trades scan cost for recall (each extra probe adds one
    bucket's worth of candidates — recall is monotone in n_probe since
    the candidate set only grows). Returns the same schema as
    brute_force_topk (approximate results). Pass
    ``centroids=kmeans_centroids(...)`` for trained buckets (higher
    recall at the same probe cost than the stride baseline).
    """
    if centroids is None:
        centroids = stride_centroids(embeddings, every)
    # assignment inlined as a column instead of joining the separate
    # assign_centroids frame back on vec_id: the assignment is a pure
    # deterministic function of the embedding, so the join bought
    # nothing except a second corpus scan plus a shuffle join of the
    # whole table (identical centroid_id values either way)
    emb = (
        embeddings.withColumn("_v", _as_double(F.col("embedding")))
        # ‖v‖ as its OWN projected column (non-cheap alias stays in its
        # own project), so the argmax expression references it instead
        # of re-deriving the norm once per centroid — see _centroid_sims
        .withColumn("_vn", norm_col(F.col("_v")))
        .select(
            "vec_id",
            "embedding",
            nearest_centroid_col(
                F.col("_v"), centroids, v_norm=F.col("_vn")
            ).alias("centroid_id"),
        )
    )
    q = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("qv"),
        )
        .withColumn("qn", norm_col(F.col("qv")))
        .withColumn(
            "probes",
            probe_centroids_col(
                F.col("qv"), centroids, n_probe, v_norm=F.col("qn")
            ),
        )
        # one query row per probed bucket; corpus vectors live in
        # exactly one bucket, so no pair is produced twice
        .select("query_id", "qv", "qn", F.explode("probes").alias("q_cent"))
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
        F.col("centroid_id").alias("c_cent"),
    ).withColumn("cn", norm_col(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("c_cent") == F.col("q_cent"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_col(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
