"""Similarity search over embedding columns (north star, SURVEY.md §2.2).

Three tiers:

- ``cosine_pairs_bruteforce`` / ``cosine_topk_query``: exact cosine,
  the correctness baseline.  Pairwise form is O(n^2) and only for
  bounded subsets; query form is a single scan (linear) and scales.
- ``ann_lsh_topk``: random-hyperplane LSH — sign-bit signatures bucket
  vectors so candidate generation is a hash join on the bucket key.
  This is the 100 TB path: the full pairwise join never happens, and
  the bucket key is uniform so the shuffle has no skew.
- ``kmeans_centroids`` / ``ivf_assign_cells`` / ``ann_ivf_topk``: the
  trained-quantizer index; ``semantic_cell_pairs`` +
  ``semantic_dedup_keepers`` reuse the same quantizer for
  SemDeDup-style embedding near-dedup (within-cell exact cosine →
  connected components → keeper map).

All vector math is Catalyst higher-order functions in DOUBLE
(functions/arrays.py) — JVM-side, codegen'd, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from v6spark.functions.arrays import arr_dot, arr_norm_sq


def _safe_cosine(dot, n2_a, n2_b):
    """dot/(|a||b|), NULL for zero-norm inputs (NaN would sort FIRST
    under Spark's NaN-is-largest ordering and poison top-k)."""
    return F.when(
        (n2_a > 0) & (n2_b > 0), dot / (F.sqrt(n2_a) * F.sqrt(n2_b))
    )


def cosine_pairs_bruteforce(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int | None = None,
) -> DataFrame:
    """All-pairs cosine similarity (id_a < id_b), optionally top-k.

    Pre-computes each vector's squared norm once before the join so
    the pair loop does one dot product, not three reductions.
    """
    from v6spark.functions.arrays import arr_dot_sql, arr_norm_sq_sql

    # SQL-string build (r12, same rationale as ann_lsh_pairs): the
    # twins state the identical expressions in a handful of py4j
    # round trips.
    base = df.selectExpr(
        f"{id_col} AS _id",
        f"{vec_col} AS _v",
        f"{arr_norm_sq_sql(vec_col)} AS _n2",
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(b, F.expr("a._id < b._id"))
    cos = (
        "CASE WHEN a._n2 > 0 AND b._n2 > 0 "
        f"THEN {arr_dot_sql('a._v', 'b._v')} / (SQRT(a._n2) * SQRT(b._n2)) END"
    )
    out = pairs.selectExpr(
        "a._id AS id_a",
        "b._id AS id_b",
        f"round({cos}, 6) AS cosine",
    )
    if top_k is not None:
        out = out.orderBy(F.col("cosine").desc(), "id_a", "id_b").limit(top_k)
    return out


def cosine_topk_query(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest to a literal query vector — one scan,
    TakeOrderedAndProject, linear at any scale.

    Zero-norm vectors yield NULL cosine (sorted last) rather than NaN
    — Spark orders NaN as LARGEST, so a NaN from a degenerate vector
    would otherwise rank as the best match for every query.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = _safe_cosine(
        arr_dot(F.col(vec_col), q), arr_norm_sq(vec_col), arr_norm_sq(q)
    )
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc_nulls_last(), id_col)
        .limit(k)
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no numpy RNG state
    at plan time — reproducible plans)."""
    import math

    planes = []
    state = seed
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u = ((state >> 11) / float(1 << 53)) * 2.0 - 1.0
            v.append(u)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket_sql(vec_col: str, n_planes: int, dim: int, seed: int = 7) -> str:
    """Sign-bit LSH bucket id (long) for a vector column, as ONE
    Spark-SQL string expression: the per-Column form costs n_planes x
    (dim literals + dot-product lambdas) of py4j round trips — ~1100
    driver calls (~0.8 s of pure build time) at 13 planes x 64 dims,
    re-paid on every query build.  ``repr(float)`` is the shortest
    round-trip literal, so the SQL doubles are bit-identical to the
    ``F.lit`` form's.

    r12 (optimization round): ALL planes live in ONE flattened literal
    array and the bucket is a single fold over plane indices, with the
    per-plane dot an inner fold over element indices — replacing the
    old 14-term sum of per-plane ``zip_with``+``aggregate`` pairs.
    Value-identical for vectors of size <= ``dim`` (same IEEE
    multiply/add sequence per plane — the inner fold reads elements in
    the same order the zip_with fold did; sign test and power-of-two
    bit weights unchanged; short/NULL vectors yield NULL dots via
    ``try_element_at`` exactly as ``zip_with``'s NULL padding did).
    Vectors LONGER than ``dim`` are truncated to their first ``dim``
    elements (r13, advisor finding): the old zip_with form NULL-padded
    the PLANE side instead, so every overlong vector collapsed into
    bucket 0 — a degenerate shared bucket that makes the downstream
    within-bucket join quadratic in the overlong population.
    Truncation keeps such vectors spread across buckets; callers that
    need strict dimensional hygiene should validate ``size(vec)``
    upstream.  The fold is also ~25% cheaper to
    parse+analyze (one array literal and 2 lambdas instead of
    ``n_planes`` of each) and ~1.8x faster to EXECUTE at 14x64: the
    old form materialized an intermediate 64-element array per plane
    per row (interpreted HOF allocation); the fold reads both arrays
    in place.  Measured at sf0.1: build 202->154 ms, bucket
    projection exec 282->157 ms, bucket values bit-identical across
    the 2000-vector corpus and short/empty/NULL edge vectors.
    """
    planes = _hyperplanes(n_planes, dim, seed)
    flat = "array(" + ",".join(f"{x!r}D" for p in planes for x in p) + ")"
    dot = (
        f"aggregate(sequence(0, {dim - 1}), 0.0D, (a2, i) -> "
        f"a2 + cast(try_element_at({vec_col}, i + 1) as double)"
        f" * element_at({flat}, j * {dim} + i + 1))"
    )
    return (
        f"aggregate(sequence(0, {n_planes - 1}), 0L, (acc, j) -> "
        f"acc + (CASE WHEN {dot} >= 0 THEN shiftleft(1L, j) ELSE 0L END))"
    )


def lsh_bucket_col(vec_col: str, n_planes: int, dim: int, seed: int = 7):
    """Column form of :func:`lsh_bucket_sql` (same expression)."""
    return F.expr(lsh_bucket_sql(vec_col, n_planes, dim, seed))


def ann_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    min_cosine: float = 0.0,
    persist_buckets: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate near-neighbor pairs: exact cosine computed only
    within LSH buckets (vectors sharing all sign bits).

    The bucketed frame (id, vector, norm, bucket — n_planes dot
    products per row) feeds BOTH sides of the self-join, so it is
    persisted by default rather than recomputed per side.  The cache
    entry lives until Spark's LRU evicts it or the session stops —
    for repeated calls in a long-lived session pass
    ``persist_buckets=False`` or unpersist via
    ``spark.catalog.clearCache()``.

    ``max_bucket_size`` is the same 100 TB robustness guard as in
    ``dedup.near_dup_report``: the within-bucket join is
    quadratic in bucket population, and a production embedding corpus
    has degenerate near-identical clusters (re-encoded duplicates,
    zero vectors) that flood one bucket.  Oversized buckets are
    dropped from pair generation; production callers route them to a
    sampled or exact-key path.  Diagnose with
    ``dedup.bucket_size_histogram`` over the ``_bucket`` column.
    """
    from pyspark import StorageLevel

    from v6spark.functions.arrays import arr_dot_sql, arr_norm_sq_sql
    from v6spark.operators.dedup import _guard_buckets

    # SQL-string build (r12): the Column form of this body cost ~0.27 s
    # of pure py4j chatter per plan build (~580 driver round trips,
    # mostly the HOF lambdas in arr_dot/arr_norm_sq); the selectExpr
    # strings state the IDENTICAL expressions (twins kept in lockstep,
    # asserted in tests) in a handful of round trips.
    bucketed = df.selectExpr(
        f"{id_col} AS _id",
        f"{vec_col} AS _v",
        f"{arr_norm_sq_sql(vec_col)} AS _n2",
        f"{lsh_bucket_sql(vec_col, n_planes, dim)} AS _bucket",
    )
    bucketed = _guard_buckets(bucketed, ["_bucket"], max_bucket_size)
    if persist_buckets:
        bucketed = bucketed.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cos = (
        "CASE WHEN a._n2 > 0 AND b._n2 > 0 "
        f"THEN {arr_dot_sql('a._v', 'b._v')} / (SQRT(a._n2) * SQRT(b._n2)) END"
    )
    return (
        a.join(b, F.expr("a._bucket = b._bucket AND a._id < b._id"))
        .selectExpr(
            "a._id AS id_a",
            "b._id AS id_b",
            f"round({cos}, 6) AS cosine",
        )
        .filter(f"cosine >= {min_cosine!r}D")
    )


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_probe_bits: int = 1,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k for a literal query vector via sign-bit LSH buckets.

    The query's bucket is computed DRIVER-SIDE (n_planes dot products
    over one vector — trivial); the cluster-side plan is a bucket
    IN-filter, exact cosine on the survivors, and
    TakeOrderedAndProject — cost ~ (probed buckets / 2^n_planes) of
    the brute-force scan.

    MULTI-PROBE: single-bucket probing loses every neighbour that
    falls on the other side of any one hyperplane (for genuinely near
    vectors each plane is a coin flip weighted by the angle), so the
    probe set includes all buckets within Hamming distance
    ``n_probe_bits`` of the query's bucket — the standard multi-probe
    LSH recall recovery, as a literal IN list of
    ``sum_{i<=b} C(n_planes, i)`` bucket ids (9 for 8 planes at
    distance 1), not extra table copies.

    At 100 TB the corpus would be WRITTEN partitioned by this bucket
    id (sources/layout.py posture): the IN-filter then partition-
    prunes at the source and the query touches only probed buckets'
    files — same pruning story as ``ann_ivf_topk``'s cell filter.
    Zero-norm vectors yield NULL cosine and sort last, as everywhere
    in this module.
    """
    from itertools import combinations

    planes = _hyperplanes(n_planes, dim, seed)
    qbucket = 0
    for i, plane in enumerate(planes):
        dot = sum(float(q) * p for q, p in zip(query_vec, plane))
        if dot >= 0:
            qbucket |= 1 << i
    probes = [qbucket]
    for nbits in range(1, n_probe_bits + 1):
        for flips in combinations(range(n_planes), nbits):
            b = qbucket
            for f in flips:
                b ^= 1 << f
            probes.append(b)
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket_col(vec_col, n_planes, dim, seed).alias("_bucket"),
    ).filter(F.col("_bucket").isin(probes))
    return cosine_topk_query(bucketed, query_vec, k, id_col, vec_col)


# ---- IVF (inverted-file) ANN — the cell-probing scale path ----------


def ivf_assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared-L2 argmin).

    Centroids are a literal broadcast structure; the argmin is an
    ``array_min`` over (distance, cell) structs — pure Catalyst, one
    narrow pass.  At scale this column becomes the partition key of the
    stored index, so a query touches only probed cells' files.
    """
    cells = []
    for idx, c in enumerate(centroids):
        cvec = F.array(*[F.lit(float(x)) for x in c])
        dist = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                cvec,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cells.append(F.struct(dist.alias("dist"), F.lit(idx).alias("cell")))
    best = F.array_min(F.array(*cells))
    return df.select(
        F.col(id_col), F.col(vec_col), best["cell"].alias("cell")
    )


def deterministic_centroids(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Coarse quantizer without an iterative trainer: the n_cells
    lowest-id vectors serve as seeds (deterministic, library-free) —
    the simplest baseline, kept for tests and as
    ``kmeans_centroids(init="lowest_id")``.  The production-grade
    init is :func:`kmeans_parallel_init` (deterministic k-means||);
    every downstream step is identical either way.
    """
    rows = df.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    return [[float(x) for x in r[vec_col]] for r in rows]


def ann_ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF query: probe the n_probe nearest cells, exact cosine within.

    The driver computes the query's cell ranking (tiny, pure Python);
    the cluster-side work is a cell-pruned scan + TakeOrderedAndProject
    — cost ~ n_probe/n_cells of brute force.
    """
    ranked = sorted(
        range(len(centroids)),
        key=lambda i: sum(
            (q - c) * (q - c) for q, c in zip(query_vec, centroids[i])
        ),
    )
    probe = ranked[:n_probe]
    assigned = ivf_assign_cells(df, centroids, id_col, vec_col)
    return cosine_topk_query(
        assigned.filter(F.col("cell").isin(probe)), query_vec, k, id_col, vec_col
    )


def _min_sq_dist(vec_col: str, centers: list[list[float]]):
    """Squared L2 distance to the NEAREST of ``centers`` (Catalyst)."""
    dists = []
    for c in centers:
        cvec = F.array(*[F.lit(float(x)) for x in c])
        dists.append(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    cvec,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.least(*dists) if len(dists) > 1 else dists[0]


def kmeans_parallel_init(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int | None = None,
    rounds: int = 3,
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic k-means|| (scalable k-means++) initialization.

    The production init for a distributed quantizer (Bahmani et al.,
    VLDB'12 — what MLlib uses): instead of k sequential k-means++
    passes over the corpus, a few ROUNDS each sample ~``oversample``
    points with probability proportional to their squared distance
    from the centers chosen so far, then the oversampled candidate
    set is reduced to ``n_cells`` on the driver.

    Determinism contract (this engine's rule — no RNG at plan time):
    the per-row coin flip is a seeded ``xxhash64(id, round)`` mapped
    to [0,1) — repartition/retry-invariant exactly like
    ``sampling.hash_sample`` — and the driver-side reduction is the
    weighted farthest-point traversal (greedy k-center) followed by
    weighted Lloyd on the candidates, both order-deterministic.  Two
    builds of the same corpus yield bit-identical centers.

    Scale shape: each round is one narrow scan computing min-distance
    to the current centers (Catalyst fold, no shuffle) plus one
    driver-sized candidate collect (≤ ~4x oversample rows); the final
    weighting pass is one ``ivf_assign_cells`` + count per cell.  No
    vectors shuffle, ever.
    """
    oversample = oversample or 2 * n_cells
    first = df.orderBy(id_col).limit(1).select(vec_col).collect()
    if not first:
        return []
    centers = [[float(x) for x in first[0][vec_col]]]
    for r in range(rounds):
        d2 = _min_sq_dist(vec_col, centers)
        total = df.agg(F.sum(d2)).collect()[0][0]
        if not total or total <= 0:
            break  # every point coincides with a center already
        u = (
            F.pmod(
                F.xxhash64(F.col(id_col), F.lit(seed + r)),
                F.lit(1_000_000),
            ).cast("double")
            / 1_000_000.0
        )
        cand = (
            df.filter(
                u < d2 * F.lit(float(oversample)) / F.lit(float(total))
            )
            .orderBy(id_col)
            .limit(4 * oversample)  # tail guard: expectation is ~oversample
            .select(vec_col)
            .collect()
        )
        centers.extend([[float(x) for x in row[vec_col]] for row in cand])
    if len(centers) <= n_cells:
        # tiny/degenerate corpora: pad from lowest-id vectors
        pad = deterministic_centroids(df, n_cells, id_col, vec_col)
        seen = {tuple(c) for c in centers}
        centers.extend(c for c in pad if tuple(c) not in seen)
        return centers[:n_cells]
    # weight candidates by how many corpus points they own
    counts = (
        ivf_assign_cells(df, centers, id_col, vec_col)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    import numpy as np

    cand_arr = np.array(centers)
    w = np.zeros(len(centers))
    for row in counts:
        w[row["cell"]] = row["w"]
    # greedy weighted k-center traversal (deterministic): start from
    # the heaviest candidate, then repeatedly take the candidate with
    # max weighted squared distance to the chosen set
    chosen = [int(np.argmax(w))]
    d = ((cand_arr - cand_arr[chosen[0]]) ** 2).sum(axis=1)
    while len(chosen) < n_cells:
        nxt = int(np.argmax(w * d))
        chosen.append(nxt)
        d = np.minimum(d, ((cand_arr - cand_arr[nxt]) ** 2).sum(axis=1))
    centers_np = cand_arr[chosen].copy()
    # weighted Lloyd on the candidate set (driver-sized, deterministic)
    for _ in range(5):
        dist = ((cand_arr[:, None, :] - centers_np[None, :, :]) ** 2).sum(
            axis=2
        )
        assign = dist.argmin(axis=1)
        for j in range(n_cells):
            mask = assign == j
            tw = w[mask].sum()
            if tw > 0:
                centers_np[j] = (cand_arr[mask] * w[mask, None]).sum(
                    axis=0
                ) / tw
    return [[float(x) for x in c] for c in centers_np]


def kmeans_centroids(
    df: DataFrame,
    n_cells: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "parallel",
) -> list[list[float]]:
    """Lloyd's k-means for the IVF coarse quantizer — DataFrame-native.

    Deterministic: seeds from :func:`kmeans_parallel_init`
    (``init="parallel"``, the default — deterministic k-means||) or
    ``deterministic_centroids`` (``init="lowest_id"``, the r3
    baseline) and a FIXED iteration count, so index builds are
    reproducible run-to-run (no RNG, no convergence-threshold
    nondeterminism).  Each iteration is one Spark job: assign cells
    (Catalyst argmin, operators above) then recompute centroids as
    per-dimension means via posexplode + hash-agg — the shuffle
    carries (cell, dim, partial sum), never vectors.  Only the k x dim
    centroid matrix ever reaches the driver.

    Empty cells keep their previous centroid (standard Lloyd fix-up).
    """
    if init == "parallel":
        centroids = kmeans_parallel_init(df, n_cells, id_col, vec_col)
    elif init == "lowest_id":
        centroids = deterministic_centroids(df, n_cells, id_col, vec_col)
    else:
        raise ValueError(f"unknown init: {init!r} (parallel, lowest_id)")
    dim = len(centroids[0]) if centroids else 0
    for _ in range(n_iters):
        assigned = ivf_assign_cells(df, centroids, id_col, vec_col)
        means = (
            assigned.select(
                "cell", F.posexplode(vec_col).alias("dim", "x")
            )
            .groupBy("cell", "dim")
            # decimal-exact mean (repo determinism rule): a double avg's
            # partial-merge order varies with cluster layout, which
            # would break bit-identical index rebuilds
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("m")
            )
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], [0.0] * dim)[r["dim"]] = r["m"]
        centroids = [
            by_cell.get(i, centroids[i]) for i in range(len(centroids))
        ]
    return centroids


def semantic_cell_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    persist_cells: bool = True,
) -> DataFrame:
    """Embedding near-dup candidate pairs WITHIN k-means cells.

    The SemDeDup-shaped candidate generator (Abbas et al. 2023,
    arXiv:2303.09540 — public paper): cluster the corpus with a
    coarse quantizer, then compute exact cosine only between vectors
    sharing a cell.  Same scale shape as :func:`ann_lsh_pairs` —
    the quadratic join is bounded by cell population, the shuffle key
    is the cell id, and the shuffle payload is (id, vector, norm) —
    but cells are DATA-ADAPTIVE (k-means follows corpus density)
    where LSH buckets are oblivious, so for clustered embedding
    corpora the same candidate budget yields higher recall.

    ``max_cell_size`` is the standard quadratic-join guard
    (``dedup._guard_buckets``): a degenerate corpus (thousands of
    re-encodes of one asset) floods one cell; oversized cells are
    dropped from pair generation and belong on an exact-digest or
    sampled path.  Diagnose with ``dedup.bucket_size_histogram`` over
    ``_cell``.

    Returns (id_a, id_b, cosine) with id_a < id_b and
    ``cosine >= min_cosine``.
    """
    from pyspark import StorageLevel

    from v6spark.operators.dedup import _guard_buckets

    assigned = ivf_assign_cells(df, centroids, id_col, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        arr_norm_sq(vec_col).alias("_n2"),
        F.col("cell").alias("_cell"),
    )
    assigned = _guard_buckets(assigned, ["_cell"], max_cell_size)
    if persist_cells:
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = assigned.alias("a"), assigned.alias("b")
    sim = _safe_cosine(
        arr_dot(F.col("a._v"), F.col("b._v")), F.col("a._n2"), F.col("b._n2")
    )
    return (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def semantic_dedup_keepers(
    df: DataFrame,
    n_cells: int = 16,
    n_iters: int = 3,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: every vector's keeper id.

    Composes the engine's existing pieces end-to-end — deterministic
    k-means (:func:`kmeans_centroids`: k-means|| init + fixed Lloyd
    iterations, so index builds and therefore keeper maps are
    reproducible), within-cell exact cosine
    (:func:`semantic_cell_pairs`), and
    ``dedup.connected_keepers`` (pointer-doubling min-id connected
    components with the small-graph driver fast path).

    Keeper policy is MIN-ID per duplicate component — deterministic
    and oracle-checkable.  (The SemDeDup paper keeps the member with
    the lowest cosine to its cluster centroid; that policy needs
    component labels rather than keepers and trades determinism for a
    quality heuristic — swap ``connected_keepers`` for a labeled-CC +
    ``min_by`` step if wanted.)

    Pass ``centroids`` to reuse a trained quantizer (e.g. the one the
    IVF index already built — at 100 TB you never train twice).

    Returns (vec_id, keeper_id) for EVERY input vector (singletons
    keep themselves) — left-joinable onto the corpus, same contract
    as ``dedup.near_dup_keepers`` for text.
    """
    from v6spark.operators.dedup import connected_keepers

    if centroids is None:
        centroids = kmeans_centroids(
            df, n_cells=n_cells, n_iters=n_iters,
            id_col=id_col, vec_col=vec_col,
        )
    pairs = semantic_cell_pairs(
        df, centroids, min_cosine=min_cosine,
        id_col=id_col, vec_col=vec_col, max_cell_size=max_cell_size,
    )
    keepers = connected_keepers(pairs).select(
        F.col("doc_id").alias("_kid"), F.col("keeper_id").alias("_keeper")
    )
    return (
        df.select(F.col(id_col))
        .join(keepers, F.col(id_col) == F.col("_kid"), "left")
        .select(
            F.col(id_col),
            F.coalesce("_keeper", F.col(id_col)).alias("keeper_id"),
        )
    )


def ann_lsh_pairs_between(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    min_cosine: float = 0.0,
    probe_hamming1: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-set approximate neighbors: corpus x benchmark pairs
    with exact cosine, candidates restricted to shared LSH buckets —
    the embedding-space analog of ``dedup.simhash_pairs_between``.

    Scale shape: both sides bucket with the SAME seeded hyperplanes
    (plan-time literals), and the benchmark side — small by
    definition — is explicitly ``broadcast()``, so the corpus never
    shuffles: scan -> bucket -> broadcast-join -> cosine filter.
    ``probe_hamming1`` explodes the BENCH side to its bucket plus
    all n_planes one-bit-flip probes (multi-probe LSH), recovering
    near pairs that straddle one hyperplane — the recall knob costs
    (n_planes+1)x rows on the small side only, nothing on the
    corpus.  Within-side pairs are never generated.

    ``dim`` MUST equal the embedding length and is enforced with a
    runtime ``assert_true`` on both sides — a mismatch would
    otherwise NULL every hyperplane dot product and silently
    collapse all rows into one bucket, i.e. the full cross join this
    LSH exists to avoid.  ``max_bucket_size`` is the same
    degenerate-cluster guard as the sibling primitives, applied to
    the corpus side (the bench side is small by contract).
    """
    from v6spark.functions.arrays import arr_dot, arr_norm_sq
    from v6spark.operators.dedup import _guard_buckets

    def checked_bucket():
        ok = F.assert_true(
            F.size(F.col(vec_col)) == dim,
            F.lit(f"ann_lsh_pairs_between: dim={dim} != embedding "
                  "length; buckets would silently degenerate"),
        )
        # assert_true evaluates to NULL on success; fold it into the
        # bucket expression so it cannot be pruned away
        return F.when(ok.isNull(), lsh_bucket_col(vec_col, n_planes, dim))

    cb = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        arr_norm_sq(vec_col).alias("_cn2"),
        checked_bucket().alias("_bucket"),
    )
    cb = _guard_buckets(cb, ["_bucket"], max_bucket_size)
    bench_bucket = checked_bucket()
    if probe_hamming1:
        probes = F.array(
            bench_bucket,
            *[bench_bucket.bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
        bb = bench.select(
            F.col(id_col).alias("_bid"),
            F.col(vec_col).alias("_bv"),
            arr_norm_sq(vec_col).alias("_bn2"),
            F.explode(probes).alias("_bucket"),
        )
    else:
        bb = bench.select(
            F.col(id_col).alias("_bid"),
            F.col(vec_col).alias("_bv"),
            arr_norm_sq(vec_col).alias("_bn2"),
            bench_bucket.alias("_bucket"),
        )
    sim = _safe_cosine(
        arr_dot(F.col("_cv"), F.col("_bv")), F.col("_cn2"), F.col("_bn2")
    )
    # no dedup needed: a bench row's probe buckets are all DISTINCT
    # values (bucket xor distinct one-bit masks), and a corpus row
    # carries one bucket — each (corpus, bench) pair can match at
    # most once, so the join output is already duplicate-free and the
    # plan stays shuffle-free
    return (
        cb.join(F.broadcast(bb), "_bucket")
        .select(
            F.col("_cid").alias("corpus_id"),
            F.col("_bid").alias("bench_id"),
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )
