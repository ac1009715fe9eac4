"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with JVM higher-order functions
(zip_with product + aggregate sum — no Python boundary). Scale paths:
random-hyperplane LSH bucketing (near-linear candidates, deterministic
xxhash64 planes, optional Hamming-1 multi-probe) and IVF coarse
quantization (deterministic centroid picks, numpy-vectorized assignment
through an Arrow pandas UDF, nprobe-bucket search) — both reproducible
with no driver-side randomness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_staged(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """cosine() with the two norms supplied from pre-computed columns.

    r6 (guide §1.2 "per-task work"): higher-order-function lambdas are
    evaluated interpretively per element, and the inline cosine()
    re-derives BOTH 64-element norm folds once per scored candidate. In
    every join-shaped ANN path a vector participates in many candidates,
    so staging l2norm as its own projection on each side BEFORE the join
    computes it once per row instead of once per candidate — the exact
    same dot/sqrt/multiply/divide f64 ops in the same order, so values
    (and the 4-dp rounded oracle grid) are bit-identical."""
    return dot(a, b) / (a_norm * b_norm)


def _scored(
    base: DataFrame, q: DataFrame, key: str, id_col: str, keep: list[str]
) -> DataFrame:
    """Candidates of a keyed vector search: the corpus side (id, v, key,
    __vn) joined on ``key`` with the query side (keep..., q, key, __qn),
    projected to (keep..., id, cos_sim) with cos_sim rounded to 4 dp."""
    return base.join(q, key).select(
        *keep,
        F.col(id_col),
        F.round(
            cosine_staged(F.col("v"), F.col("q"), F.col("__vn"), F.col("__qn")), 4
        ).alias("cos_sim"),
    )


def _topk(cand: DataFrame, id_col: str, k: int) -> DataFrame:
    """The k best candidates overall (ties broken by id)."""
    return cand.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def _ranked(cand: DataFrame, query_id_col: str, id_col: str, k: int) -> DataFrame:
    """The k best candidates per query, with their 1-based ``rank``."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk(
    df: DataFrame,
    query_vec: Column | DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 20,
) -> DataFrame:
    """Top-k by cosine to one query vector. ``query_vec`` may be a 1-row
    DataFrame with a ``q`` array column (broadcast) or a literal Column."""
    base = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    if isinstance(query_vec, DataFrame):
        # stage the query norm on the 1-row side: computed once instead of
        # once per corpus row (cosine_staged)
        qn = query_vec.withColumn("__qn", l2norm(F.col("q")))
        scored = base.crossJoin(F.broadcast(qn))
    else:
        scored = base.withColumn("q", query_vec).withColumn(
            "__qn", l2norm(F.col("q"))
        )
    cand = scored.select(
        F.col(id_col),
        F.round(
            cosine_staged(
                F.col("v"), F.col("q"), l2norm(F.col("v")), F.col("__qn")
            ),
            4,
        ).alias("cos_sim"),
    )
    return _topk(cand, id_col, k)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Append int8-quantized vectors + dequant scales: symmetric
    per-vector scalar quantization q_i = round(x_i * 127 / max|x|) in
    [-127, 127], scale max|x| / 127 (an all-zero vector quantizes to zeros
    with scale 0). Cosine is scale-invariant, so ranking by the cosine of
    the quantized arrays needs no dequantization: the scales cancel.

    maxabs is materialized as its own projection BEFORE the per-element
    transform references it. Inlined, the whole array_max(transform(v,
    abs)) subtree would be re-evaluated inside every element's lambda —
    O(dim²) work per row (measured ~8s for 20k×64-dim vectors at sf1.0;
    Catalyst does not common-subexpression-eliminate inside
    higher-order-function lambdas).
    """
    maxabs = F.array_max(F.transform(as_double(F.col(vec_col)), F.abs))
    with_max = df.withColumn("__maxabs", maxabs)
    q = F.when(
        F.col("__maxabs") == 0.0,
        F.transform(as_double(F.col(vec_col)), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            as_double(F.col(vec_col)),
            lambda x: F.round(x * 127.0 / F.col("__maxabs")).cast("int"),
        )
    )
    return (
        with_max.withColumn(out_col, q)
        .withColumn(scale_col, F.col("__maxabs") / 127.0)
        .drop("__maxabs")
    )


def brute_force_topk_quantized(
    df: DataFrame,
    query_vec: Column | DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 20,
) -> DataFrame:
    """brute_force_topk over int8-quantized vectors: rank by the cosine of
    the QUANTIZED arrays (scale-invariant, no dequant). Same plan shape as
    the float path — broadcast 1-row query, TakeOrderedAndProject — at a
    quarter of the scan bytes once the corpus is stored quantized.
    ``query_vec`` holds an already-quantized (int) query array."""
    base = quantize_embeddings(df, vec_col=vec_col).select(F.col(id_col), F.col("q"))
    if isinstance(query_vec, DataFrame):
        query_vec = query_vec.select(as_double(F.col("q")).alias("q"))
    else:
        query_vec = as_double(query_vec)
    return brute_force_topk(base, query_vec, id_col=id_col, vec_col="q", k=k)


def cosine_pairs_blocked(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-dup pairs within blocks (e.g. label, LSH bucket): equi-join on
    the block key keeps the pair space linear in block size."""
    v = df.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("__n", l2norm(F.col("v")))  # once per row, not per pair
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                cosine_staged(
                    F.col("a.v"), F.col("b.v"), F.col("a.__n"), F.col("b.__n")
                ),
                4,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def plane_signs(plane: int, dim: int) -> list[float]:
    """±1 components of deterministic hyperplane ``plane``: parity of the
    first md5 hex digit of "plane|component". Pure Python (hashlib), so
    any engine — and the DuckDB oracle — can embed the IDENTICAL literals
    and reproduce bucket assignments exactly (round-3 change from
    xxhash64-expression planes, which only Spark could evaluate).
    Sign-random projections preserve cosine locality either way."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{plane}|{d}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for d in range(dim)
    ]


def _hyperplane(plane: int, dim: int) -> Column:
    """The plane as a literal array column (constant-folded by Catalyst)."""
    return F.array(*[F.lit(s) for s in plane_signs(plane, dim)])


def lsh_bucket(vec: Column, dim: int, n_planes: int = 16) -> Column:
    """Sign-projection LSH bucket id (long): bit p = sign(vec · plane_p).

    The projection is rounded to 9 dp BEFORE the sign test (mirrored in the
    DuckDB oracle): different engines may sum the dot product in different
    orders, and a projection within float-noise of 0 could otherwise get
    opposite signs across engines, flipping bucket membership."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.round(dot(vec, _hyperplane(p, dim)), 9)
        bit = F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def _probe_masks(n_planes: int, radius: int) -> list[int]:
    """XOR masks of every bucket perturbation with Hamming weight 1..radius
    (radius 0 → empty list; the exact bucket is always probed separately).
    Probe-set size is sum_{r<=radius} C(n_planes, r) — e.g. 16 planes,
    radius 2 → 137 buckets per query, still metadata-sized and broadcast.
    Raises on radius outside [0, n_planes]: until round 5 any radius >= 1
    silently degraded to radius-1 probing (ADVICE r4), so an out-of-range
    ask must be loud, never quietly lossy."""
    from itertools import combinations

    if not 0 <= radius <= n_planes:
        raise ValueError(f"probes radius {radius} outside [0, {n_planes}]")
    masks: list[int] = []
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for p in bits:
                m |= 1 << p
            masks.append(m)
    return masks


def _probe_explode(q: DataFrame, keep_cols: list[str], masks: list[int]) -> DataFrame:
    """Expand each query row to its probe buckets: the exact bucket plus
    one row per XOR mask. Each corpus vector lives in exactly one bucket
    and the probe set is distinct by construction (distinct masks XOR a
    fixed bucket give distinct buckets), so the downstream equi-join can
    never duplicate a (query, corpus) candidate."""
    return q.select(
        *keep_cols,
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks],
            )
        ).alias("bucket"),
    )


def _lsh_sides(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    query_vec_col: str,
    keep: list[str],
    n_planes: int,
    probes: int,
) -> tuple[DataFrame, DataFrame]:
    """Both sides of an LSH search keyed by ``bucket``: the corpus (id, v,
    bucket, __vn) and the queries (keep..., q, bucket, __qn), expanded to
    their probe buckets. Norms are staged once per row, not per candidate."""
    base = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
        .withColumn("bucket", lsh_bucket(F.col("v"), dim, n_planes))
        .withColumn("__vn", l2norm(F.col("v")))
    )
    q = (
        queries.select(*keep, as_double(F.col(query_vec_col)).alias("q"))
        .withColumn("bucket", lsh_bucket(F.col("q"), dim, n_planes))
        .withColumn("__qn", l2norm(F.col("q")))
    )
    masks = _probe_masks(n_planes, probes)
    if masks:
        q = _probe_explode(q, [*keep, "q", "__qn"], masks)
    return base, q


def lsh_topk(
    df: DataFrame,
    query_df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 20,
    n_planes: int = 8,
    probes: int = 0,
) -> DataFrame:
    """ANN: restrict scoring to vectors in the query's LSH bucket, then
    exact cosine rank inside the bucket.

    ``probes`` is the multi-probe RADIUS: probes=0 scores the exact bucket
    only (recall < 1 by design); probes=r additionally unions every bucket
    within Hamming distance r of the query's (all sign-bit flips of weight
    <= r) — the standard cost/recall dial at scale. The probe set stays
    tiny (sum_{i<=r} C(n_planes, i) rows — 9 at r=1, 37 at r=2 for 8
    planes), broadcast to the corpus-side join, so candidate generation
    stays one map-side hash join regardless of corpus size. Radii outside
    [0, n_planes] raise (they used to silently probe radius 1)."""
    base, q = _lsh_sides(df, query_df, dim, id_col, vec_col, "q", [], n_planes, probes)
    return _topk(_scored(base, F.broadcast(q), "bucket", id_col, []), id_col, k)


def knn_join_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q",
    n_planes: int = 8,
    probes: int = 1,
) -> DataFrame:
    """Batch ANN: top-k neighbors for EVERY row of a queries DataFrame
    (semantic dedup / retrieval mining does kNN per document, not per one
    query vector). Returns (query_id, vec_id, cos_sim, rank) with rank 1..k
    per query.

    Shape at scale: both sides get their LSH bucket map-side (pure JVM
    expressions), queries expand to their probe set (``probes`` is the
    multi-probe Hamming RADIUS: probes=1 → 1+n_planes rows per query,
    probes=2 adds the C(n_planes,2) weight-2 flips, and so on — radii
    outside [0, n_planes] raise), then ONE equi-join on bucket — a shuffle
    hash join keyed on the bucket id — and a per-query row_number window
    bounded to k. Each corpus vector lives in exactly one bucket and the
    probe set is distinct, so the join cannot duplicate a (query, corpus)
    candidate — no dedup pass needed before the window.
    Raise n_planes as the corpus grows (2^n_planes buckets is the shuffle
    key space; 16 planes → 65k keys keeps partitions balanced at 100 TB —
    at small n_planes the handful of hot buckets is the skew risk)."""
    base, q = _lsh_sides(
        corpus, queries, dim, id_col, vec_col, query_vec_col, [query_id_col],
        n_planes, probes,
    )
    cand = _scored(base, q, "bucket", id_col, [query_id_col])
    return _ranked(cand, query_id_col, id_col, k)


def _ivf_sides(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    query_vec_col: str,
    keep: list[str],
    train_iters: int,
    centroids: list[list[float]] | None,
    assigned: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """Both sides of an IVF search keyed by ``centroid``: the assigned
    corpus (id, v, centroid, __vn) and the queries (keep..., q, centroid,
    __qn), one row per probed centroid. The index is ``centroids`` when
    given, else trained here (train_iters=0 gives the seed picks)."""
    cents = centroids if centroids is not None else ivf_train(
        corpus, n_centroids, train_iters, id_col, vec_col
    )
    if assigned is None:
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
    probe = _assign_udf(cents, nprobe=nprobe)
    q = (
        queries.select(*keep, as_double(F.col(query_vec_col)).alias("q"))
        .withColumn("centroid", F.explode(probe(F.col("q"))))
        .withColumn("__qn", l2norm(F.col("q")))
    )
    return assigned.withColumn("__vn", l2norm(F.col("v"))), q


def knn_join_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q",
    train_iters: int = 1,
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Batch ANN over an IVF index: every query probes its ``nprobe``
    nearest centroid buckets; candidates are exact-cosine ranked per query.
    Same join/window shape as knn_join_lsh, with the centroid id as the
    bucket key (n_centroids shuffle keys — size it ~sqrt(corpus) at scale).
    Pass ``centroids`` to reuse a prebuilt index across calls, and
    ``assigned`` (the (id, v, centroid) table ivf_index_build persists) to
    skip the corpus assignment pass entirely — the search job then touches
    only the probed buckets' rows."""
    base, q = _ivf_sides(
        corpus, queries, n_centroids, nprobe, id_col, vec_col, query_vec_col,
        [query_id_col], train_iters, centroids, assigned,
    )
    cand = _scored(base, q, "centroid", id_col, [query_id_col])
    return _ranked(cand, query_id_col, id_col, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantization — the second standard ANN scale
# path beside LSH. Index = deterministic centroid picks + per-vector
# nearest-centroid assignment; search probes the query's ``nprobe`` nearest
# centroid buckets and ranks candidates by exact cosine. At 100 TB the
# assignment is one Arrow-batched map over the corpus (numpy matmul per
# batch, no shuffle) and the probe join is a broadcast hash join on the
# centroid id — candidate volume ~ nprobe/n_centroids of the corpus.
# ---------------------------------------------------------------------------


def ivf_centroids(
    df: DataFrame, n_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic centroid picks: for seed c, the vector minimizing
    xxhash64(c, id). One Spark job (n_centroids min_by aggregates, all
    JVM-side); equivalent to k independent uniform draws, reproducible.
    Returns a small driver-side list (n_centroids × dim — metadata-sized;
    a real deployment would persist it with the index)."""
    aggs = [
        F.min_by(as_double(F.col(vec_col)), F.xxhash64(F.lit(c), F.col(id_col))).alias(f"c{c}")
        for c in range(n_centroids)
    ]
    row = df.agg(*aggs).collect()[0]
    return [list(row[f"c{c}"]) for c in range(n_centroids)]


def ivf_train(
    df: DataFrame,
    n_centroids: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd-refined IVF centroids (round-3: the random-pick index trails a
    trained one at large n_centroids). Start from the deterministic seed
    picks, then run ``iters`` k-means iterations. Round-4 rewrite of the
    iteration's shuffle shape: the old path posexploded every vector and
    grouped by (centroid, pos) — an exchange of n_rows × dim rows, a
    dim-fold (64×-here) shuffle amplification of the corpus per iteration.
    Now the SAME Arrow pass that assigns vectors also accumulates per-task
    partial centroid sums and emits k rows per task (mapInPandas), so the
    exchange carries n_partitions × k rows (each a dim-array) instead of
    n_rows × dim scalars — at 10^9 rows / 200 partitions / k=256 that is a
    ~10^6-fold shuffle-volume drop. Determinism: the final reduce
    array_sorts the partials by partition id and folds them in that fixed
    order with zip_with (JVM sequential fold), then rounds the mean to
    9 dp — no dependence on shuffle arrival order. Old-path equality at
    test scale is asserted in tests/test_similarity.py. Empty clusters
    keep their previous centroid (k never degenerates). iters=0 returns
    the seed picks of ivf_centroids."""
    cents = ivf_centroids(df, n_centroids, id_col, vec_col)
    base = df.select(as_double(F.col(vec_col)).alias("v"))
    for _ in range(iters):
        rows = _partial_sums(base, cents).collect()
        new = [list(c) for c in cents]  # empty clusters keep previous centroid
        for r in rows:
            new[r["centroid"]] = list(r["m"])
        cents = new
    return cents


def _partial_sums(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """One Lloyd step, shuffle-lean: assignment + per-task partial sums in
    a single Arrow pass, tiny deterministic final reduce. Returns
    (centroid, m: array<double>) — the new mean per non-empty centroid."""
    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def partials(batches):
        sums = np.zeros((k, dim))
        cnts = np.zeros(k, dtype=np.int64)
        pid = -1
        for pdf in batches:
            if pdf.empty:
                continue
            pid = int(pdf["pid"].iloc[0])
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            a = np.argmax(Mn @ Cn.T, axis=1)  # ties -> lowest index (stable)
            for c in np.unique(a):
                mask = a == c
                sums[c] += M[mask].sum(axis=0)
                cnts[c] += int(mask.sum())
        live = np.nonzero(cnts)[0]
        if len(live):
            yield pd.DataFrame(
                {
                    "pid": [pid] * len(live),
                    "centroid": [int(c) for c in live],
                    "cnt": [int(cnts[c]) for c in live],
                    "sums": [sums[c].tolist() for c in live],
                }
            )

    zero = F.array_repeat(F.lit(0.0), dim)
    return (
        base.withColumn("pid", F.spark_partition_id())
        .mapInPandas(partials, "pid int, centroid int, cnt long, sums array<double>")
        .groupBy("centroid")
        .agg(F.array_sort(F.collect_list(F.struct("pid", "cnt", "sums"))).alias("ps"))
        .select(
            "centroid",
            F.aggregate(
                "ps", F.lit(0).cast("long"), lambda acc, x: acc + x["cnt"]
            ).alias("cnt"),
            F.aggregate(
                "ps", zero, lambda acc, x: F.zip_with(acc, x["sums"], lambda a, b: a + b)
            ).alias("sums"),
        )
        .select(
            "centroid",
            F.transform("sums", lambda s: F.round(s / F.col("cnt"), 9)).alias("m"),
        )
    )


def _ivf_train_exploded(
    df: DataFrame,
    n_centroids: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The pre-round-4 training step (posexplode + groupBy(centroid, pos)
    mean — n_rows × dim shuffle). Kept ONLY as the test oracle for the
    shuffle-lean path: tests/test_similarity.py asserts both paths produce
    equal centroids at test scale."""
    cents = ivf_centroids(df, n_centroids, id_col, vec_col)
    base = df.select(as_double(F.col(vec_col)).alias("v"))
    for _ in range(iters):
        assign = _assign_udf(cents, nprobe=1)
        rows = (
            base.withColumn("centroid", assign(F.col("v"))[0])
            .select("centroid", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid", "pos")
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in rows:
            new[r["centroid"]][r["pos"]] = r["m"]
        cents = new
    return cents


def _assign_udf(centroids: list[list[float]], nprobe: int = 1):
    """Arrow pandas UDF: batch × dim cosine against all centroids via one
    numpy matmul, returns the ``nprobe`` nearest centroid ids per vector."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    @pandas_udf("array<int>")
    def assign(vs: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ Cn.T  # (batch, n_centroids)
        # kind='stable': ties between centroids must break to the LOWER
        # index everywhere — the lean training pass uses np.argmax (first
        # max) and the default introsort is not stable, so an exactly-tied
        # vector could be trained into one bucket but indexed/probed into
        # another (ADVICE r4); stable argsort on -sims shares argmax's rule
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return assign


# ---------------------------------------------------------------------------
# Index persistence — "build once, search many" across sessions/jobs
# (round-4 'What's missing #3'). The index is two warehouse tables with
# shared lineage: <name>_centroids (centroid, vec — metadata-sized, one
# driver-side Arrow append, no Spark job) and <name>_assigned (the
# (id, v, centroid) corpus assignment — ONE distributed Arrow map over the
# corpus, written partitioned so a search with nprobe buckets prunes to
# nprobe/n_centroids of the files). Rebuilds append a new version; loads
# read only the NEWEST build's commits.
# ---------------------------------------------------------------------------


def ivf_index_build(
    spark,
    wh,
    corpus: DataFrame,
    name: str = "ann_ivf",
    n_centroids: int = 16,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train (or seed-pick at train_iters=0) IVF centroids over ``corpus``
    and persist the index to warehouse tables ``<name>_centroids`` and
    ``<name>_assigned`` with build-parameter lineage. Returns
    {"n_centroids", "assigned_rows", "centroids_commit", "assigned_commit"}.
    The assigned table is hive-partitioned by centroid so a search job's
    probe join reads only its nprobe buckets' files (partition pruning —
    the on-disk analogue of the broadcast probe join)."""
    import pyarrow as pa

    cents = ivf_train(corpus, n_centroids, train_iters, id_col, vec_col)
    lineage = {
        "index": name,
        "n_centroids": n_centroids,
        "train_iters": train_iters,
        "id_col": id_col,
        "vec_col": vec_col,
    }
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    meta_a = wh.write_append(
        assigned, f"{name}_assigned", partition_by=["centroid"], lineage=lineage
    )
    tbl = pa.table(
        {"centroid": list(range(len(cents))), "vec": [list(c) for c in cents]}
    )
    meta_c = wh.write_append_arrow(f"{name}_centroids", tbl, lineage=lineage)
    return {
        "n_centroids": len(cents),
        "assigned_rows": meta_a["rows"],
        "centroids_commit": meta_c["id"],
        "assigned_commit": meta_a["id"],
    }


def ivf_index_load(
    spark, wh, name: str = "ann_ivf"
) -> tuple[list[list[float]], DataFrame]:
    """Load the NEWEST build of a persisted IVF index: returns
    (centroids, assigned DataFrame) ready to pass to ivf_topk /
    knn_join_ivf — no retraining, no re-assignment. Each build is one
    commit per table, so 'newest build' = the last commit of each."""
    import os

    import pyarrow.dataset as pa_ds

    ccs = wh.commits(f"{name}_centroids")
    if not ccs:
        raise ValueError(f"no persisted index named {name!r}")
    cdir = os.path.join(wh.root, ccs[-1]["data_dir"])
    t = pa_ds.dataset(cdir, format="parquet").to_table()
    rows = sorted(zip(t["centroid"].to_pylist(), t["vec"].to_pylist()))
    cents = [list(v) for _c, v in rows]
    acs = wh.commits(f"{name}_assigned")
    prev = acs[-2]["id"] if len(acs) > 1 else 0
    assigned = wh.read(spark, f"{name}_assigned", from_snapshot=prev)
    # hive partitioning reads `centroid` back as the partition column;
    # restore the int type the probe join expects
    assigned = assigned.withColumn("centroid", F.col("centroid").cast("int"))
    return cents, assigned


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, centroid) — each vector assigned to its nearest centroid.
    The index build: one Arrow map over the corpus, no shuffle."""
    assign = _assign_udf(centroids, nprobe=1)
    return df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).withColumn("centroid", assign(F.col("v"))[0])


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 20,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 1,
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """ANN via IVF: exact cosine rank inside the query's ``nprobe`` nearest
    centroid buckets. ``query_df`` is a 1-row DataFrame with a ``q`` array
    column. Recall grows with nprobe/n_centroids (asserted >=0.9 vs brute
    force in tests/test_similarity.py). ``train_iters`` Lloyd iterations
    refine the deterministic seed centroids (default 1; 0 = raw seed picks;
    trained recall >= seed recall asserted in tests/test_similarity.py).
    Pass ``centroids`` (and optionally the persisted ``assigned`` table)
    to reuse a prebuilt index — build once with ivf_index_build, search
    many across sessions without retraining or re-assigning."""
    base, q = _ivf_sides(
        df, query_df, n_centroids, nprobe, id_col, vec_col, "q", [], train_iters,
        centroids, assigned,
    )
    return _topk(_scored(base, F.broadcast(q), "centroid", id_col, []), id_col, k)
