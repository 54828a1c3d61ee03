"""Streaming inverted-index maintenance — documents become searchable
as they arrive.

Each micro-batch tokenizes ONLY its own documents and writes its
posting/df/meta partials under idempotent ``batch_id=N`` directories
(redelivery overwrites, never double-counts — the standard sink layout
of streaming/sketch.py). The batch_id level nests ABOVE the term-hash
bucket level, so the query-time scan still prunes on the bucket
partition column across every batch directory, and the read side's
merge-at-read contract (operators/search._collect_stats sums df/meta
partials) makes the accumulated index answer queries EXACTLY as one
batch build over all ingested documents — parity-tested.

This is the streaming twin of append_to_inverted_index with redelivery
safety added: the indexed history is never re-read, never re-tokenized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sum_spark.operators.search import II_BUCKETS, _term_bucket, build_inverted_index


def streaming_index_documents(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = II_BUCKETS,
    trigger: dict | None = None,
    auto_compact_after: int | None = None,
):
    """Accumulate the inverted index over a document stream. Query the
    result at any time with ``bm25_from_index(spark, path, terms, k)``
    — no rebuild, no compaction required for correctness. At a snapshot
    boundary (stream stopped), apply snapshot_diff's retirements and
    additions with retire_from_inverted_index / append_to_inverted_index
    using a NEGATIVE ``batch_dir`` (checkpoints only commit ids >= 0 —
    no collision), and fold partials with compact_inverted_index. Flat
    and batch_id layouts must never mix (the read fails), so choose the
    compaction endgame: keep_batch_layout=True to RESUME the stream
    afterwards, default False to hand off to pure batch maintenance
    (stream retired). The stream itself stays append-only either way.

    ``auto_compact_after``: once the index has accumulated that many
    batch directories, the sink folds the COMMITTED prefix into one
    (compact_inverted_index keep_batch_layout=True partial=True) before
    writing the arriving batch, so query-side file counts stay bounded
    on a long-lived stream without manual compaction (VERDICT r8 #3).
    Writer-safe inside the sink (foreachBatch serializes); a stale dir
    from a mid-batch crash stays in place as the uncommitted tail and
    its redelivery overwrites exactly itself."""
    from pyspark.sql import functions as F

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if auto_compact_after is not None:
            from sum_spark.operators.search import compact_inverted_index
            from sum_spark.streaming.compact import _batch_dirs

            if len(_batch_dirs(f"{path}/postings")) >= auto_compact_after:
                compact_inverted_index(
                    batch_df.sparkSession,
                    path,
                    n_buckets,
                    keep_batch_layout=True,
                    checkpoint=checkpoint,
                    partial=True,
                )
        postings, terms, meta = build_inverted_index(batch_df, text_col, id_col)
        (
            postings.withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
            .repartition("bucket")
            .sortWithinPartitions("term", "doc_id")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(f"{path}/postings/batch_id={batch_id}")
        )
        (
            terms.withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(f"{path}/terms/batch_id={batch_id}")
        )
        meta.write.mode("overwrite").parquet(f"{path}/meta/batch_id={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
