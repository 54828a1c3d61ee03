"""Embedding-preparation operators: int8 scalar quantization (the 4x
storage/bandwidth cut a 100 TB embedding corpus wants before ANN).

No reference analog (the reference stores raw float32 vectors,
node/wrapper/record.go); this is the storage-scale extension. All math is
engine-portable (floor(x + 0.5) instead of ROUND, single divisions) so
the DuckDB oracle checks values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sum_spark.functions.litsql import darray, dlit, qid
from sum_spark.plans.scale import spread_for_compute


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    ordered: bool = True,
) -> DataFrame:
    """Symmetric per-vector int8 quantization.

    q_i = floor(v_i * 127 / amax + 0.5) with amax = max(|v_i|); the
    dequant multiplier is scale = amax / 127. floor(x + 0.5) is used in
    both engines because ROUND half-way semantics differ between Spark
    (HALF_UP on doubles) and DuckDB. Zero vectors quantize to zeros with
    scale 0.

    Map-side column work only — streams through the scan, no shuffle.
    Output: (vec_id, scale, q_str, max_abs_err) where q_str is the
    comma-joined int8 codes (a scalar so the driver harness can
    canonicalize it) and max_abs_err the dequantization error bound
    max(|v_i - q_i * scale|) <= scale/2.
    """
    df = spread_for_compute(df)
    # amax is staged on its own; it is referenced by the quant lambda per
    # element, and Catalyst re-inlining an aggregate-over-array there
    # would be O(d^2) per row — acceptable at d=64, but the projection
    # boundary keeps the plan readable and the exprs shallow.
    return (
        df.selectExpr(
            f"{qid(id_col)} AS vec_id",
            f"CAST({qid(vec_col)} AS ARRAY<DOUBLE>) AS __v",
        )
        .selectExpr(
            "vec_id", "__v", "array_max(transform(__v, x -> abs(x))) AS __amax"
        )
        .selectExpr(
            "vec_id",
            "__v",
            "__amax",
            "CASE WHEN __amax > 0"
            " THEN transform(__v, x -> CAST(floor(x * 127 / __amax + 0.5D) AS INT))"
            " ELSE transform(__v, x -> 0) END AS __q",
        )
        .selectExpr(
            "vec_id",
            "__amax / 127 AS scale",
            "array_join(transform(__q, x -> CAST(x AS STRING)), ',') AS q_str",
            "array_max(zip_with(__v, __q, (x, qq) -> abs(x - qq * (__amax / 127))))"
            " AS max_abs_err",
        )
        .transform(lambda d: d.orderBy("vec_id") if ordered else d)
    )


def l2_normalize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    ordered: bool = True,
) -> DataFrame:
    """Unit-norm embeddings (the preprocessing step before cosine-based
    ANN: normalized once, every downstream similarity is a plain dot).
    Zero vectors normalize to zeros, norm 0 — same convention as the
    cosine kernel's zero rule.

    Map-side column work only. The norm is staged in its own projection;
    it is referenced inside the per-element lambda, and (as with
    quantize_int8's amax) re-evaluating an O(d) aggregate per element is
    acceptable at d=64 while the projection boundary keeps the
    expressions shallow.

    Output: (vec_id, norm, unit: array<double>) ordered.
    """
    return (
        df.selectExpr(
            f"{qid(id_col)} AS vec_id",
            f"CAST({qid(vec_col)} AS ARRAY<DOUBLE>) AS __v",
        )
        .selectExpr(
            "vec_id",
            "__v",
            "sqrt(aggregate(transform(__v, x -> x * x), 0.0D, (acc, x) -> acc + x))"
            " AS __n",
        )
        .selectExpr(
            "vec_id",
            "__n AS norm",
            "CASE WHEN __n > 0 THEN transform(__v, x -> x / __n)"
            " ELSE transform(__v, x -> 0.0D) END AS unit",
        )
        .transform(lambda d: d.orderBy("vec_id") if ordered else d)
    )


def random_project(
    df: DataFrame,
    out_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss reduction with deterministic ±1/sqrt(k)
    planes (the md5-derived sign scheme of dedup.srp_planes, so the SAME
    projection reproduces on any run, cluster, or engine — no RNG state
    to ship). Output: (vec_id, proj: array<double> of out_dims) ordered.

    Map-side only: the planes are literals folded per row (out_dims
    independent dot products), so the reduction streams through the scan
    — the cheap preprocessing before ANN when the raw dimension makes
    IVF/LSH signatures or GEMM blocks memory-heavy. Distances are
    preserved to the JL epsilon for the chosen out_dims; downstream
    exact verification (the dedup operators' verify stage) should use
    the ORIGINAL vectors.
    """
    from sum_spark.operators.dedup import srp_planes

    staged = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    dims = int(staged.select(F.size("__v")).limit(1).collect()[0][0])
    planes = srp_planes(int(out_dims), dims, seed=seed)
    scale = 1.0 / float(out_dims) ** 0.5

    # The out_dims x dims plane literals render into ONE F.expr string
    # (litsql / VERDICT r12 #6) instead of out_dims*dims F.lit py4j
    # round trips per plan build — identical Catalyst nodes (dlit/darray
    # doubles are exact; plan-identity pinned in tests/test_plans.py).
    def _dot(p) -> str:
        return (
            f"aggregate(zip_with(__v, {darray(float(x) for x in p)}, "
            "(a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
        )

    proj = F.expr(
        "array(" + ", ".join(f"({_dot(p)} * {dlit(scale)})" for p in planes) + ")"
    )
    return staged.select("vec_id", proj.alias("proj")).orderBy("vec_id")


def mean_pool(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    fixed_point: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Group-wise mean embedding — chunk->document or document->class
    pooling. Distributed shape: posexplode to (group, pos, val), ONE
    hash-partitioned aggregate on (group, pos), then per-group sorted
    re-assembly; no fixed-dimension literals, no single-task operator.

    Float caveat, and why ``fixed_point`` exists: summing doubles ACROSS
    rows happens in partition order, which is not deterministic — the
    same corpus on a different executor layout can differ in the last
    mantissa bit. ``fixed_point=k`` first quantizes every value to
    integer units of 10^-k (floor(x*10^k + 0.5) — the portable midpoint
    rule) and sums exactly: bit-reproducible on any cluster layout and
    across engines, which is what a training pipeline should store.

    Output: (group, n_vecs, pooled array<double>) — or with fixed_point,
    (group, n_vecs, pooled_fp array<bigint>) carrying the integer SUMS
    in 10^-k units (divide by n_vecs downstream; the division is left to
    the consumer so the stored artifact stays integer-exact).
    """
    ex = df.selectExpr(
        f"{qid(group_col)} AS `group`",
        f"posexplode(CAST({qid(vec_col)} AS ARRAY<DOUBLE>)) AS (pos, val)",
    )
    if fixed_point is None:
        m, out_col = "avg(val)", "pooled"
    else:
        m = f"sum(CAST(floor(val * {10**fixed_point} + 0.5D) AS BIGINT))"
        out_col = "pooled_fp"
    return (
        ex.groupBy("group", "pos")
        .agg(F.expr(f"{m} AS m"), F.expr("count(*) AS c"))
        .groupBy("group")
        .agg(
            F.expr("max(c) AS n_vecs"),
            F.expr(
                f"transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
                f" AS {out_col}"
            ),
        )
        .transform(lambda d: d.orderBy("group") if ordered else d)
    )


def product_quantize(
    df: DataFrame,
    m: int = 2,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fixed_point: int = 6,
    centroids: dict[int, list[float]] | None = None,
    ordered: bool = True,
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Product quantization (PQ — Jégou et al. 2011): split each vector
    into ``m`` contiguous subvectors and quantize each against its own
    ``k``-entry codebook, compressing d floats to m small code ids — the
    memory layout IVF-PQ ANN indexes store at corpus scale.

    Codebook training here is ONE Lloyd step from the deterministic
    hash-init partition (the same oracle-checkable recipe as the
    'kmeans'/'kcent' legs): because the init cluster of a vector is a
    function of its id alone, the per-cluster mean of the FULL vector,
    sliced into m parts, IS the per-subspace codebook — so training is
    ONE (cluster, pos) fixed-point aggregate over the corpus, not m of
    them, and the driver holds only k x d integers. Production PQ runs
    more Lloyd iterations per subspace on a sample; this form trades
    codebook quality for a bit-reproducible, cross-engine-checkable
    train step with the identical Spark shape (aggregate + map-side
    assign).

    Assignment is one map-side projection: per subspace, the strictly
    left-to-right Catalyst squared-distance fold (bit-matching DuckDB's
    list_sum) and a lexicographic (dist, code) argmin — ties to the
    lowest code id.

    Returns (codes, codebook): codes = (vec_id, codes array<long>) with
    m entries per row, ordered by vec_id; codebook = the full-vector
    centroid dict (cluster -> d doubles) whose m slices are the
    subspace codebooks. Empty init buckets (possible only with fewer
    ids than k) simply yield no codebook entry, as in kmeans_fit.

    Pass ``centroids`` (a full-vector codebook in the same dict form,
    e.g. from a previous train or shared with a coarse IVF quantizer)
    to skip the train aggregate and only assign codes.

    The codebook is baked into the plan as literals — the
    oracle-checkable strictly-left-to-right fold, with plan size
    O(k x d). Index builds with books past 64 entries encode through
    similarity._pq_rows instead, whose GEMM encoder ships the book as
    data.
    """
    from sum_spark.operators.clustering import (
        _centroids_from_sums,
        centroid_sums,
        hash_init_assign,
    )

    if m < 1 or k < 1:
        raise ValueError("product_quantize needs m >= 1 and k >= 1")
    if centroids is not None:
        cents = centroids
    else:
        init = hash_init_assign(df, k, id_col)
        cents = _centroids_from_sums(
            centroid_sums(init, "cluster", vec_col, fixed_point).collect(), fixed_point
        )
    items = sorted(cents.items())
    codes = df.selectExpr(
        f"{qid(id_col)} AS vec_id", f"{pq_codes_sql(items, m, vec_col)} AS codes"
    ).transform(lambda d: d.orderBy("vec_id") if ordered else d)
    return codes, cents


def _pq_check_dims(items: list, m: int) -> int:
    if not items:
        raise ValueError("product quantization needs at least one centroid")
    d = len(items[0][1])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    return d


def sq_dist_structs_sql(items: list, vec_sql: str) -> str:
    """SQL text of an array<struct<d: double, j: bigint>>: the squared L2
    distance from ``vec_sql`` (an array<double> expression) to each
    centroid of a sorted (id, centroid) item list. Each distance is a
    strictly left-to-right fold, which DuckDB's list_sum reproduces bit
    for bit, and array_min over the structs is the lexicographic
    (distance, id) argmin: ties go to the lowest id. The centroids are
    exact literals (functions/litsql.py); the lambda variables carry a
    ``__`` prefix so they cannot shadow a caller's column."""
    cents = ", ".join(
        f"struct({darray(c)} AS c, CAST({int(j)} AS BIGINT) AS j)" for j, c in items
    )
    return (
        f"transform(array({cents}), __s -> struct(aggregate(zip_with({vec_sql},"
        " __s.c, (__x, __c) -> (__x - __c) * (__x - __c)), 0.0D,"
        " (__acc, __x) -> __acc + __x) AS d, __s.j AS j))"
    )


def pq_codes_sql(items: list, m: int, vec_col: str) -> str:
    """SQL text of the ``array<bigint>`` of ``m`` catalyst PQ codes over
    ``vec_col`` for a sorted (cluster, centroid) item list, one
    :func:`sq_dist_structs_sql` argmin per subspace book.
    product_quantize's assignment, factored out so an index build can
    attach codes in the SAME projection that carries the coarse id: the
    previous write/maintain shape re-derived codes in a second frame and
    JOINED it back on id (one shuffle join + its exchanges per
    build/append/retire, guide §2.4 — removed)."""
    d = _pq_check_dims(items, m)
    sd = d // m
    v = f"CAST({qid(vec_col)} AS ARRAY<DOUBLE>)"
    codes = (
        "array_min("
        + sq_dist_structs_sql(
            [(cid, c[j * sd : (j + 1) * sd]) for cid, c in items],
            f"slice({v}, {j * sd + 1}, {sd})",
        )
        + ").j"
        for j in range(m)
    )
    return "array(" + ", ".join(codes) + ")"


def _require_integral_id(df: DataFrame, id_col: str, what: str) -> None:
    """The numpy PQ encoders carry the id through their batches as
    BIGINT; a non-integral id (string ids) would cast to NULL row by row
    and every row would silently drop from the index — an empty index
    with no error, while the catalyst path preserves any id type
    (ADVICE r8). Refuse loudly instead."""
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise TypeError(
            f"{what} needs an integral id column; {id_col!r} is "
            f"{id_type.simpleString()}. Map ids to BIGINT first (assign_ids)."
        )


def _pq_argmin_codes(x, cmat, keys, m: int):
    """(rows x m) int64 PQ codes of the stacked batch ``x`` against the
    full-vector book ``cmat`` (sorted ``keys``): per subspace,
    ||x||^2 - 2 x.c + ||c||^2 over the whole batch, argmin to the FIRST
    minimum = lowest code id. The expression is fixed: stored codes
    must re-encode bit-identically for deletion-as-negation."""
    import numpy as np

    sd = cmat.shape[1] // m
    out = np.empty((x.shape[0], m), dtype=np.int64)
    for j in range(m):
        xs = x[:, j * sd : (j + 1) * sd]
        cs = cmat[:, j * sd : (j + 1) * sd]
        d2 = (
            (xs * xs).sum(axis=1)[:, None]
            - 2.0 * (xs @ cs.T)
            + (cs * cs).sum(axis=1)[None, :]
        )
        out[:, j] = keys[np.argmin(d2, axis=1)]
    return out


def _pq_codes_numpy(
    df: DataFrame, m: int, items: list, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, codes, coarse) — Arrow-batched GEMM PQ assignment
    (:func:`_pq_argmin_codes`) of a frame that already carries its
    ``coarse`` id: similarity._pq_rows' encoder for a residual book past
    64 entries. One NumPy pass per batch, no plan literals — plan size
    O(1) in k; the coarse id rides through the batch, so the index rows
    come out of ONE python pass with no join back on id."""
    import numpy as np
    import pandas as pd

    _require_integral_id(df, id_col, "large-k PQ encode")
    _pq_check_dims(items, m)
    keys = np.array([j for j, _ in items], dtype=np.int64)
    cmat = np.array([c for _, c in items], dtype=np.float64)

    def _codes(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["__id"].values,
                    "codes": list(_pq_argmin_codes(x, cmat, keys, m)),
                    "coarse": pdf["__coarse"].values,
                }
            )

    src = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.col("coarse").cast("long").alias("__coarse"),
    )
    return src.mapInPandas(
        _codes, schema="vec_id long, codes array<bigint>, coarse long"
    )
