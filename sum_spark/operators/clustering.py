"""Distributed k-means over embedding columns + SemDeDup-style semantic
dedup (cluster first, near-dup search only WITHIN clusters).

No reference analog (the reference compares vectors pairwise on demand,
node/wrapper/record.go:75-147); this is the corpus-curation extension:
at 100 TB you cannot afford even LSH-pruned near-dup passes over the
whole corpus at once, so the standard play (SemDeDup, Abbas et al. 2023)
is k-means into semantically coherent clusters, then exact cosine
near-dup only inside each cluster — candidate generation becomes an
equi-join on the cluster id, never all-pairs.

Spark shape of one Lloyd iteration:
  - assignment is MAP-SIDE (centroids are a k x d driver-held constant,
    broadcast into the task closure — the same bounded-small-side rule as
    knn_bruteforce's probes);
  - the update is ONE hash-partitioned aggregate of element-wise sums
    (posexplode -> groupBy (cluster, pos)), i.e. mean_pool — partial
    aggregation map-side, k*d rows out.
  Nothing ever funnels through a single task; the only driver traffic is
  the k x d centroid table per iteration.

Reproducibility: centroid sums are FIXED-POINT INTEGERS (mean_pool
fixed_point — summing doubles across rows follows partition order and is
not layout-stable); the derived centroid doubles are the same
m / (n * 10^fp) division in Spark, Python and DuckDB, which is what makes
a full Lloyd step oracle-checkable cross-engine (embed_quantize 'kmeans'
and 'kcent' legs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sum_spark.functions.hashing import hash60_sql
from sum_spark.functions.litsql import qid
from sum_spark.operators.dedup import block_count, block_pair_cosine
from sum_spark.operators.embeddings import mean_pool, sq_dist_structs_sql


def hash_init_assign(
    df: DataFrame, k: int, id_col: str = "vec_id", cluster_col: str = "cluster"
) -> DataFrame:
    """Deterministic initial partition: cluster = hash60(id) % k.

    Portable (md5-based hash60 has a DuckDB twin) and seed-free: the
    init is a pure function of the ids, so a re-run on any cluster
    layout — or another engine — starts from the identical state. A
    hash-random partition's per-cluster means concentrate near the
    global mean; one Lloyd step already separates them (k-means|| style
    sampling would converge faster but costs extra passes and a
    cross-engine RNG story).
    """
    return df.withColumn(
        cluster_col,
        F.expr(f"{hash60_sql(f'CAST({qid(id_col)} AS STRING)')} % {int(k)}"),
    )


def centroid_sums(
    df: DataFrame,
    cluster_col: str = "cluster",
    vec_col: str = "embedding",
    fixed_point: int = 6,
) -> DataFrame:
    """The update half of a Lloyd step as a stored artifact:
    (group, n_vecs, pooled_fp) — element-wise integer sums in 10^-fp
    units per cluster. Integer, hence bit-reproducible on any layout and
    engine; divide by n_vecs * 10^fp to materialize the centroid.

    Unordered: every caller collects it into a dict or unions it under a
    global sort, and a sort here costs the collect a range-sampling job
    and a stage.
    """
    return mean_pool(df, cluster_col, vec_col, fixed_point=fixed_point, ordered=False)


def _centroids_from_sums(rows, fixed_point: int) -> dict[int, list[float]]:
    unit = 10**fixed_point
    return {
        int(r["group"]): [m / (int(r["n_vecs"]) * unit) for m in r["pooled_fp"]]
        for r in rows
    }


def assign_clusters(
    df: DataFrame,
    centroids: dict[int, list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    backend: str = "numpy",
) -> DataFrame:
    """Map-side nearest-centroid assignment (squared L2, ties to the
    lowest cluster id). ``centroids`` is the driver-held k x d table —
    bounded by contract, shipped in the task closure; the stage has no
    shuffle and streams through the scan.

    backend='numpy' (default): one Arrow-batched GEMM-style distance per
    batch — the throughput path for the fit loop. backend='catalyst':
    a per-row fold in the JVM whose additions are strictly
    left-to-right, bit-matching DuckDB's list_sum — the oracle-checkable
    path (numpy's pairwise summation can differ in final bits, which
    never matters for argmin on real data but is not provable).
    """
    items = sorted(centroids.items())
    if not items:
        raise ValueError("assign_clusters needs at least one centroid")
    if backend == "catalyst":
        vec = f"CAST({qid(vec_col)} AS ARRAY<DOUBLE>)"
        return df.withColumn(
            cluster_col, F.expr(f"array_min({sq_dist_structs_sql(items, vec)}).j")
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    keys = np.array([j for j, _ in items], dtype=np.int64)
    cmat = np.array([c for _, c in items], dtype=np.float64)  # k x d

    def _assign(vec):
        # One (rows x k) distance matrix per Arrow batch via the
        # ||x||^2 - 2 x.c + ||c||^2 GEMM identity (VERDICT r10 #4: the
        # per-row (k x d) subtract paid python+allocation overhead per
        # POINT; the GEMM pays one BLAS call per batch). Chunked so the
        # distance matrix stays ~64 MB at k up to 2^16. Ties still break
        # to the LOWEST cluster id: keys is sorted ascending and argmin
        # returns the first minimum.
        D = _batched_sq_dists(vec, cmat)
        return pd.Series(keys[np.argmin(D, axis=1)])

    _assign.__annotations__ = {"vec": pd.Series, "return": pd.Series}
    return df.withColumn(
        cluster_col, pandas_udf(_assign, "long")(F.col(vec_col).cast("array<double>"))
    )


def _batched_sq_dists(vec, cmat):
    """(len(vec) x k) squared-L2 distance matrix from an Arrow batch of
    array cells (or an already-stacked float64 matrix) against centroid
    matrix ``cmat``, computed as one GEMM per ~64 MB row chunk. Shared
    by assign_clusters / assign_clusters_topp (their hot path: the
    per-point pass every SemDeDup / IVF build pays).
    Distances differ from the per-row subtract form only in float
    rounding — fine for assignment (parity unit-tested on random data);
    oracle-checked legs use the 'catalyst' backends, whose fold order
    DuckDB reproduces bit-for-bit."""
    import numpy as np

    if len(vec) == 0:  # empty Arrow batch: (0 x k), argmin downstream is a no-op
        return np.empty((0, cmat.shape[0]), dtype=np.float64)
    if isinstance(vec, np.ndarray) and vec.ndim == 2:
        mats = vec
    else:
        try:
            mats = np.asarray(
                [np.asarray(cell, dtype=np.float64) for cell in vec], dtype=np.float64
            )
        except ValueError:  # inhomogeneous cells raise before any ndim check
            mats = None
    if mats is None or mats.ndim != 2:
        # ragged cells: per-row fallback (never on real data)
        return np.stack(
            [
                ((cmat - np.asarray(m, dtype=np.float64)[None, :]) ** 2).sum(axis=1)
                for m in vec
            ],
            axis=0,
        )
    c_sq = (cmat * cmat).sum(axis=1)[None, :]
    out = np.empty((mats.shape[0], cmat.shape[0]), dtype=np.float64)
    rows_per_chunk = max(1, (64 << 20) // (8 * max(1, cmat.shape[0])))
    for s in range(0, mats.shape[0], rows_per_chunk):
        b = mats[s : s + rows_per_chunk]
        out[s : s + rows_per_chunk] = (
            (b * b).sum(axis=1)[:, None] - 2.0 * (b @ cmat.T) + c_sq
        )
    return out


def assign_clusters_topp(
    df: DataFrame,
    centroids: dict[int, list[float]],
    probes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    backend: str = "numpy",
) -> DataFrame:
    """Multi-probe assignment: one output row per (point, cluster) for
    the point's ``probes`` NEAREST centroids (squared L2, ties to the
    lower cluster id). The SemDeDup boundary-recall mitigation
    (semantic_dedup(probes=2)): a near-dup pair straddling a cluster
    boundary meets in the shared second-nearest cluster. Cost is exactly
    ``probes``x the single-probe candidate mass — still bounded
    per-cluster, never a global pair search.

    ``backend='catalyst'`` mirrors assign_clusters' catalyst path —
    (dist, id) structs sorted lexicographically inside one expression,
    left-to-right fold distances that a SQL oracle reproduces
    bit-for-bit (the hash-checked sem2 leg); 'numpy' is the fast Arrow
    GEMM path for production assignment."""
    items = sorted(centroids.items())
    if not items:
        raise ValueError("assign_clusters_topp needs at least one centroid")
    p = min(int(probes), len(items))

    if backend == "catalyst":
        # sorting the (d, j) structs = lexicographic (distance, id) order;
        # slice keeps the p nearest. Same fold as assign_clusters.
        vec = f"CAST({qid(vec_col)} AS ARRAY<DOUBLE>)"
        probed = df.withColumn(
            "__cls",
            F.expr(
                f"transform(slice(array_sort({sq_dist_structs_sql(items, vec)}),"
                f" 1, {p}), __s -> __s.j)"
            ),
        )
        return probed.withColumn(cluster_col, F.explode("__cls")).drop("__cls")

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    keys = np.array([j for j, _ in items], dtype=np.int64)
    cmat = np.array([c for _, c in items], dtype=np.float64)

    def _assign(vec):
        # Batched GEMM distances (VERDICT r10 #4), then a stable argsort
        # per row: keys is sorted ascending, so kind='stable' breaks
        # distance ties to the lower cluster id — exactly the old
        # per-row lexsort((keys, d)) order.
        D = _batched_sq_dists(vec, cmat)
        order = np.argsort(D, axis=1, kind="stable")[:, :p]
        return pd.Series(keys[order].tolist())  # one (batch x p) gather

    _assign.__annotations__ = {"vec": pd.Series, "return": pd.Series}
    probed = df.withColumn(
        "__cls", pandas_udf(_assign, "array<long>")(F.col(vec_col).cast("array<double>"))
    )
    return probed.withColumn(cluster_col, F.explode("__cls")).drop("__cls")


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fixed_point: int = 6,
    backend: str = "numpy",
    init: dict[int, list[float]] | None = None,
) -> dict[int, list[float]]:
    """Lloyd's algorithm: hash-init partition, then ``iters`` rounds of
    map-side assignment + one-aggregate update. Returns the centroid
    table (cluster id -> list of doubles). ``k`` is an upper bound: a
    hash bucket that receives no ids at init has no centroid (possible
    only when the input has fewer ids than buckets); after init the
    cluster count never shrinks — a cluster that loses all members in
    an iteration keeps its previous centroid.

    ``init`` overrides the hash-partition init with explicit centroids
    (point init): on ZERO-CENTERED data (PQ residuals under a good
    coarse book) every hash-bucket MEAN collapses to ~0 and Lloyd
    cannot escape the degenerate start — seeding from actual data
    points keeps the centroids distinct (the k-means++ concern, solved
    deterministically by the caller's seed choice).

    Per-iteration cost is one scan + one (cluster, pos) aggregate; the
    driver holds only k x d doubles. 100 TB posture: identical — the
    corpus never moves, only k*d*10^fp-unit integers do.
    """
    if init is not None:
        cents = {int(c): [float(x) for x in v] for c, v in init.items()}
    else:
        assigned = hash_init_assign(df, k, id_col)
        cents = _centroids_from_sums(
            centroid_sums(assigned, "cluster", vec_col, fixed_point).collect(),
            fixed_point,
        )
    for _ in range(int(iters)):
        assigned = assign_clusters(
            df, cents, id_col, vec_col, backend=backend
        )
        new = _centroids_from_sums(
            centroid_sums(assigned, "cluster", vec_col, fixed_point).collect(),
            fixed_point,
        )
        cents = {j: new.get(j, c) for j, c in cents.items()}
    return cents


def inertia(
    df: DataFrame,
    centroids: dict[int, list[float]],
    vec_col: str = "embedding",
) -> float:
    """Sum of squared distances to each row's nearest centroid — the
    quantity Lloyd iterations are non-increasing in (up to the
    fixed-point centroid quantization); used by tests to verify
    convergence, not part of any checked output (cross-row double sums
    are layout-dependent)."""
    # one expr string, not k*dims F.lit round trips (litsql / VERDICT
    # r12 #6): the same left-to-right fold as the assignment
    v = f"CAST({qid(vec_col)} AS ARRAY<DOUBLE>)"
    d = F.expr(f"array_min({sq_dist_structs_sql(sorted(centroids.items()), v)}).d")
    row = df.select(F.sum(d).alias("s")).collect()[0]
    return float(row["s"] or 0.0)


# k='auto' target cluster population: per-cluster pairwise work is
# O(size^2), so holding size ~constant makes TOTAL work ~N * target —
# linear in the corpus. 4096 f64x64 vectors is ~2 MB per cluster-side,
# far under the 64 MB GEMM blocks.
SEM_AUTO_TARGET = 4096
SEM_AUTO_MAX_K = 1 << 16


def sem_auto_k(n: int) -> int:
    """Cluster count for a SemDeDup pass over ``n`` vectors: ~n/4096,
    bounded [8, 65536]. With a FIXED k the per-cluster population grows
    linearly in the corpus and the within-cluster pairwise stage grows
    as N^2/k — measured super-linear at the round-9 30x point (53x for
    30x data, BASELINE round-9 table); scaling k with N holds per-cluster
    work constant, the same sizing philosophy as similarity.auto_cells.
    More clusters narrow each cluster's recall horizon — the standard
    SemDeDup trade (the reference method also scales cluster count with
    corpus size); use dedup_embedding_lsh when global recall matters."""
    return max(8, min(SEM_AUTO_MAX_K, -(-int(n) // SEM_AUTO_TARGET)))


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.7,
    k: int | str = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: dict[int, list[float]] | None = None,
    n_subblocks: int | None = None,
    assign_backend: str = "numpy",
    probes: int = 1,
    ordered: bool = True,
) -> DataFrame:
    """SemDeDup: cluster, then exact cosine near-dup pairs WITHIN each
    cluster only. Output: (id_a, id_b, sim, cluster) with id_a < id_b,
    sim rounded to 4 places, ordered.

    ``probes`` > 1 assigns each point to its ``probes`` nearest clusters
    (assign_clusters_topp) — the standard mitigation for the method's
    boundary-recall trade (a near-dup pair split across a cluster
    boundary meets in a shared second-nearest cluster). Candidate mass
    scales by exactly ``probes``; pairs found in more than one shared
    cluster are emitted once (min cluster id). Measured recall-vs-k/
    probes table: BASELINE.md round-10 semrecall block.

    Scale shape — the reason this beats whole-corpus near-dup at 100 TB:
    after assignment, each cluster splits into S hash sub-blocks sized to
    a bounded float64 matrix (dedup.block_count, the memory-bound rule
    dedup_embedding_cosine also sizes by, clamped to 1..64 per cluster);
    candidate block pairs meet in an equi-join ON THE CLUSTER ID
    (S*(S+1)/2 pairs per cluster — a k-fold reduction of the global
    block-pair count), and the shared NumPy block kernel
    (dedup.block_pair_cosine) emits only above-threshold pairs. Cross-cluster
    near-dups are out of scope by construction — that recall trade *is*
    the SemDeDup method; use dedup_embedding_lsh when global recall
    matters.

    ``k='auto'`` sizes the cluster count to the corpus (one bounded
    count + :func:`sem_auto_k`) so per-cluster population — and with it
    the within-cluster pairwise stage — stays CONSTANT as the corpus
    grows; a fixed k is only linear until clusters outgrow
    SEM_AUTO_TARGET (the round-9 super-linear finding). Default stays 8
    for small oracle-checked runs.

    Pass ``centroids`` (e.g. from a previous :func:`kmeans_fit` on a
    sample) to skip the fit — the production pattern: fit on 0.1%, assign
    + dedup the full corpus in one pass.
    """
    if centroids is None:
        if k == "auto":
            k = sem_auto_k(df.count())
        elif not isinstance(k, int):
            raise ValueError(f"k must be an int or 'auto', got {k!r}")
        centroids = kmeans_fit(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    if int(probes) > 1:
        assigned = assign_clusters_topp(
            df, centroids, probes, id_col, vec_col, backend=assign_backend
        )
    else:
        assigned = assign_clusters(
            df, centroids, id_col, vec_col, backend=assign_backend
        )

    S = int(n_subblocks) if n_subblocks else block_count(
        df, 1, 64, groups=max(1, len(centroids))
    )
    out = block_pair_cosine(
        assigned, threshold, S, id_col, vec_col, key="cluster", n_keys=len(centroids)
    )
    if int(probes) > 1:
        # A pair whose BOTH members share two probed clusters is found
        # twice with identical sim (same exact cosine of the same
        # vectors); emit it once, attributed to the lower cluster id.
        out = out.groupBy("id_a", "id_b").agg(
            F.min("sim").alias("sim"), F.min("cluster").alias("cluster")
        )
    return out.orderBy("id_a", "id_b") if ordered else out
