"""Streaming ANN: score an arriving stream of query embeddings against
the STORED IVF-PQ index at ingest time — the online twin of
``operators.similarity.knn_ivfpq_from_index`` (retrieval-at-ingest:
route each new document/query to its nearest stored neighbors for
near-dup triage, clustering hints, or retrieval features).

The 100 TB deployment shape: the corpus is served from the compressed
codes-only index (``write_pq_index`` — m small codes per vector,
partitioned by coarse list); the probe stream coarse-assigns itself with
a MAP-SIDE catalyst argmin (the codebook is a driver-sized literal baked
into the plan at query build — bounded by contract, k x d doubles), then
stream-static equi-joins its coarse list and scores by asymmetric
distance against the RECONSTRUCTED codes. Stateless: no watermark, no
aggregation — each micro-batch emits its probes' scored candidates and
the sink (or a foreachBatch top-k) ranks them.

Numbers match the batch path bit-for-bit: the per-subspace distance is
the same strictly left-to-right fold the batch LUT loop and the DuckDB
twin use, on the same codebook doubles.

Reference analog: none (the reference is an online server but has no
stream processor); this extends the streaming family per SURVEY §2.F.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def read_embedding_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of (vec_id, embedding) parquet drops — the
    local stand-in for the queue of freshly embedded documents."""
    return spark.readStream.schema(EMB_SCHEMA).parquet(path)


def streaming_index_vectors(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger: dict | None = None,
    auto_compact_after: int | None = None,
):
    """Accumulate the PQ index over an embedding stream — vectors become
    searchable as they arrive (the vector twin of streaming/search.
    streaming_index_documents). Each micro-batch encodes ONLY its own
    vectors against the STORED immutable codebook and writes its
    (id, codes, w=+1) rows under an idempotent ``batch_id=N`` directory
    (redelivery overwrites, never double-counts); the read side
    (similarity.pq_index_rows / knn_ivfpq_from_index) nets across batch
    dirs, so the accumulated index answers searches exactly as one
    batch build over everything ingested — parity-tested.

    Bootstrap: ``<path>/_codebook`` must exist BEFORE the stream starts
    (similarity.train_pq_codebook + write_pq_codebook over a training
    sample); it is immutable after. Snapshot-boundary maintenance with
    the stream stopped: retire/append with a NEGATIVE ``batch_dir``,
    compact with ``compact_pq_index(keep_batch_layout=True)`` — both
    preserve the batch layout, so the stream can resume.

    ``auto_compact_after``: once the index has accumulated that many
    batch directories, the sink folds the COMMITTED prefix into one
    (compact_pq_index keep_batch_layout=True partial=True) before
    writing the arriving batch, keeping search-side netting and file
    counts bounded on a long-lived stream (VERDICT r8 #3). Writer-safe
    inside the sink (foreachBatch serializes); a stale dir from a
    mid-batch crash stays in place as the uncommitted tail."""
    from sum_spark.operators.similarity import (
        _attest,
        _encode_with_stored_book,
        _rowless,
        compact_pq_index,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if auto_compact_after is not None:
            from sum_spark.streaming.compact import _batch_dirs

            if len(_batch_dirs(path)) >= auto_compact_after:
                compact_pq_index(
                    batch_df.sparkSession,
                    path,
                    id_col=id_col,
                    keep_batch_layout=True,
                    checkpoint=checkpoint,
                    partial=True,
                )
        # attesting is only safe while the index holds no rows this
        # version didn't write — a resumed stream over a LEGACY index
        # (pre-marker rows present, no sentinel) must keep netting
        fresh = _rowless(path, ("coarse=", "batch_id="))
        (
            _encode_with_stored_book(batch_df, path, m, id_col, vec_col)
            .withColumn("w", F.lit(1))
            .write.partitionBy("coarse")
            .parquet(f"{path}/batch_id={batch_id}", mode="overwrite")
        )
        if fresh:
            _attest(path)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def streaming_ann_scores(
    probe_stream: DataFrame,
    index: DataFrame,
    codebook: dict[int, list[float]],
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    index_id_col: str = "id",
) -> DataFrame:
    """Score every streaming probe against its coarse list of the PQ
    index. ``index`` is the (id, coarse, codes) table — pass
    ``operators.similarity.pq_index_rows(spark, path)`` so retired
    vectors (w=-1 tombstone partials) are netted out; the static side is
    re-read per micro-batch with partition pruning on the joined coarse
    keys. ``codebook`` is the driver-held dict (reload from
    ``<path>/_codebook``).

    Returns a STREAMING (probe_id, id, adc) frame — every candidate in
    the probe's coarse list with its approximate squared distance, the
    same adc the batch search computes. Top-k is the consumer's move
    (a foreachBatch window, or take the min per probe downstream):
    windows/aggregations would force stateful output modes, and the
    candidate list per probe is already coarse-list-bounded.
    """
    from sum_spark.operators.clustering import assign_clusters
    from sum_spark.operators.similarity import _cent_map_expr

    items = sorted(codebook.items())
    d = len(items[0][1])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sd = d // m

    # Map-side coarse assignment: pure expression, streaming-safe.
    probes = assign_clusters(
        probe_stream, codebook, id_col, vec_col, cluster_col="coarse",
        backend="catalyst",
    ).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("__pv"),
        "coarse",
    )

    # Full-centroid lookup table as one literal map (k x d doubles).
    book_map = _cent_map_expr(items)
    idx = index.select(
        F.col(index_id_col).alias("id"), "coarse", "codes"
    )
    joined = probes.join(idx, "coarse").where(F.col("probe_id") != F.col("id"))
    adc = None
    for j in range(m):
        cent = F.slice(F.element_at(book_map, F.col("codes")[j]), j * sd + 1, sd)
        qsub = F.slice(F.col("__pv"), j * sd + 1, sd)
        term = F.aggregate(
            F.zip_with(qsub, cent, lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        adc = term if adc is None else adc + term
    if round_to is not None:
        adc = F.round(adc, round_to)
    return joined.select("probe_id", F.col("id"), adc.alias("adc"))


def streaming_ann_rerank(
    probe_stream: DataFrame,
    index_path: str,
    corpus: DataFrame,
    path: str,
    checkpoint: str,
    k: int = 10,
    c: int = 100,
    m: int = 2,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    trigger: dict | None = None,
):
    """Retrieval-at-ingest with EXACT results — the streaming twin of
    ``operators.similarity.knn_ivfpq_rerank``: each micro-batch of
    probe embeddings is served by the batch two-stage rerank (ADC top-C
    per probe from the stored PQ index — raw or residual, auto-detected
    — raw vectors fetched from ``corpus``, true-cosine top-k) and its
    (probe_id, id, sim, rank) rows land under an idempotent
    ``batch_id=N`` directory, so redelivery overwrites rather than
    duplicates and the accumulated output equals the batch rerank over
    every probe ingested — parity-tested. One implementation: the sink
    calls the batch operator on the micro-batch's probes (bounded by
    micro-batch size, which is what makes the LUT/broadcast contracts
    hold per batch); unlike ``streaming_ann_scores`` (stateless
    candidate stream, consumer ranks), the output here is the final
    exact top-k per probe.

    Per-trigger fixed cost (VERDICT r8 #2): the sink holds ONE serving
    context across triggers (pq_serve_context — codebooks loaded once,
    index layout re-listed only when the on-disk generation changes)
    and serves through the DRIVER backend
    (``serve_backend='driver'``, similarity._rerank_driver): a
    micro-batch's intermediates are all driver-bounded by contract, so
    the serve pays a small constant number of Spark jobs (probe
    collect, candidate raw-vector fetch, plus ONE cold probed-list code
    fetch per index generation — hot lists cached in the context; the
    accounting is pinned by test_rerank_driver_bounded_job_contract)
    instead of the composed plan's job/stage cascade per trigger. The
    sink's rows are bit-equal to the default batch rerank: both backends
    plan probes with the one _probe_luts kernel (driver==plan bit-parity
    is pinned in test_similarity_ops)."""
    from sum_spark.operators.similarity import knn_ivfpq_rerank, pq_serve_context

    serve_cache: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the rerank consumes the probes several times (head
        # gate, LUT collect, probes.count() broadcast bound, the scored
        # join) — unpersisted, each action re-reads the micro-batch
        # source (measured 4x input reads per trigger in
        # bench_streaming.py before this cache)
        batch_df.persist()
        try:
            if not batch_df.head(1):
                return
            out = knn_ivfpq_rerank(
                batch_df.sparkSession,
                index_path,
                corpus,
                batch_df,
                k=k,
                c=c,
                m=m,
                n_probes=n_probes,
                id_col=id_col,
                vec_col=vec_col,
                round_to=round_to,
                serve_ctx=pq_serve_context(
                    batch_df.sparkSession, index_path, cache=serve_cache
                ),
                serve_backend="driver",
            )
            out.write.parquet(f"{path}/batch_id={batch_id}", mode="overwrite")
        finally:
            batch_df.unpersist()

    return (
        probe_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
