"""Streaming ANN: the stream-static coarse-list join must score exactly
what the batch from-index IVF-PQ search scores on identical data (same
stored codebook, same fold order, bit-equal adc)."""

from __future__ import annotations

import numpy as np

from sum_spark.operators.similarity import knn_ivfpq_from_index, write_pq_index
from sum_spark.streaming.ann import read_embedding_stream, streaming_ann_scores
from sum_spark.streaming.windows import run_to_memory


def test_streaming_ann_matches_batch(spark, tmp_path):
    rng = np.random.default_rng(41)
    d = 8
    corpus_rows = [(i, rng.standard_normal(d).tolist()) for i in range(70)]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    idx_path = str(tmp_path / "pqidx")
    book = write_pq_index(
        corpus, idx_path, m=2, n_codes=4, id_col="vec_id", vec_col="embedding"
    )
    index = spark.read.parquet(idx_path)

    probe_rows = [(1000 + i, rng.standard_normal(d).tolist()) for i in range(3)]
    probes = spark.createDataFrame(probe_rows, "vec_id long, embedding array<double>")
    drops = str(tmp_path / "drops")
    probes.coalesce(1).write.parquet(drops)

    stream = read_embedding_stream(spark, drops)
    assert stream.isStreaming
    out = run_to_memory(
        streaming_ann_scores(
            stream, index, book, m=2, round_to=4, index_id_col="vec_id"
        ),
        "ann_scores_t1",
        output_mode="append",
    )
    got = {(r["probe_id"], r["id"]): r["adc"] for r in out.collect()}

    # Batch truth against the SAME stored index and codebook: every
    # coarse-list candidate (k larger than any list).
    want_rows = knn_ivfpq_from_index(
        spark, idx_path, probes, k=100, m=2, id_col="vec_id", vec_col="embedding",
        round_to=4,
    ).collect()
    want = {(r["probe_id"], r["vec_id"]): r["adc"] for r in want_rows}
    assert got == want
    assert got, "expected scored candidates"


def test_streaming_index_vectors_full_lifecycle(spark, tmp_path):
    """Stream-grown PQ index: ingest in micro-batches, search == the
    in-flight IVF-PQ over everything ingested; snapshot-boundary retire
    (negative batch_dir) + compact(keep_batch_layout=True); then RESUME
    the stream with the same checkpoint and search again — the layout
    survives every phase (mixed flat/batch layouts would fail to read,
    which is exactly what the batch_dir/keep_batch_layout machinery
    prevents)."""
    import os

    from pyspark.sql import functions as F

    from sum_spark.operators.similarity import (
        compact_pq_index,
        knn_ivfpq,
        retire_from_pq_index,
        train_pq_codebook,
        write_pq_codebook,
    )
    from sum_spark.streaming.ann import read_embedding_stream, streaming_index_vectors

    rng = np.random.default_rng(67)
    d = 8
    all_rows = [(i, rng.standard_normal(d).tolist()) for i in range(90)]
    corpus = spark.createDataFrame(
        all_rows, "vec_id long, embedding array<double>"
    )
    wave1 = corpus.where("vec_id < 60")
    wave2 = corpus.where("vec_id >= 60")

    # Bootstrap: codebook trained on wave1 (the training sample), stored
    # BEFORE any rows; immutable afterwards.
    idx = str(tmp_path / "pq_stream")
    book = train_pq_codebook(wave1, 4, id_col="vec_id", vec_col="embedding")
    write_pq_codebook(spark, book, idx)

    drops = str(tmp_path / "vec_drops")
    ck = str(tmp_path / "ck")
    wave1.where("vec_id % 2 = 0").coalesce(1).write.parquet(drops)
    wave1.where("vec_id % 2 != 0").coalesce(1).write.mode("append").parquet(drops)
    stream = read_embedding_stream(spark, drops)
    q = streaming_index_vectors(stream, idx, checkpoint=ck, m=2)
    q.awaitTermination()

    probes = corpus.where("vec_id <= 2")

    def from_idx():
        from sum_spark.operators.similarity import knn_ivfpq_from_index

        return sorted(
            map(
                tuple,
                knn_ivfpq_from_index(
                    spark, idx, probes, k=6, m=2, id_col="vec_id",
                    vec_col="embedding", round_to=4,
                ).collect(),
            )
        )

    def inflight(df):
        return sorted(
            map(
                tuple,
                knn_ivfpq(
                    df, probes, k=6, m=2, id_col="vec_id", vec_col="embedding",
                    round_to=4, centroids=book,
                ).collect(),
            )
        )

    assert from_idx() == inflight(wave1) and from_idx()

    # Snapshot boundary (stream stopped): retire vec_id%7==5 into a
    # manual NEGATIVE batch dir, then fold everything, KEEPING the
    # batch layout so the stream can resume.
    retire_from_pq_index(
        wave1.where("vec_id % 7 = 5"), idx, m=2, id_col="vec_id",
        vec_col="embedding", batch_dir=-1,
    )
    survivors1 = wave1.where("vec_id % 7 != 5")
    assert from_idx() == inflight(survivors1)

    # uncommitted-batch guard: a batch dir newer than the checkpoint's
    # last commit means the stream died mid-batch — folding it would be
    # silently overwritten by its redelivery, so compaction must refuse
    import pytest

    os.makedirs(os.path.join(idx, "batch_id=999"))
    with pytest.raises(ValueError, match="committed"):
        compact_pq_index(spark, idx, keep_batch_layout=True, checkpoint=ck)
    os.rmdir(os.path.join(idx, "batch_id=999"))

    stats = compact_pq_index(spark, idx, keep_batch_layout=True, checkpoint=ck)
    assert stats["n_rows"] == survivors1.count()
    batch_dirs = [n for n in os.listdir(idx) if n.startswith("batch_id=")]
    assert len(batch_dirs) == 1 and not any(
        n.startswith("coarse=") for n in os.listdir(idx)
    )
    assert from_idx() == inflight(survivors1)

    # Resume: new files, SAME checkpoint — only the new wave is read,
    # and its batch ids land strictly above the compacted dir's id.
    wave2.coalesce(1).write.mode("append").parquet(drops)
    q2 = streaming_index_vectors(
        read_embedding_stream(spark, drops), idx, checkpoint=ck, m=2
    )
    q2.awaitTermination()
    assert from_idx() == inflight(survivors1.unionAll(wave2))


def test_partial_fold_compacts_committed_prefix(spark, tmp_path):
    """VERDICT r6 #3 lifecycle: crash mid-batch (commit log missing the
    last written batch) -> full compaction refuses, partial=True folds
    the COMMITTED PREFIX (tombstones included) and leaves the tail dir
    untouched -> resume the same checkpoint -> the redelivered tail
    lands back in its own dir -> search == in-flight over everything.
    Also pins the tombstone-marker short-circuit (ADVICE r6): a
    never-retired index's read plan has NO netting aggregate; the first
    retire turns it on."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from sum_spark.operators.similarity import (
        compact_pq_index,
        knn_ivfpq,
        pq_index_rows,
        retire_from_pq_index,
        train_pq_codebook,
        write_pq_codebook,
    )
    from sum_spark.streaming.ann import read_embedding_stream, streaming_index_vectors

    rng = np.random.default_rng(91)
    d = 8
    rows = [(i, rng.standard_normal(d).tolist()) for i in range(100)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "pq_pf")
    book = train_pq_codebook(
        corpus.where("vec_id < 60"), 4, id_col="vec_id", vec_col="embedding"
    )
    write_pq_codebook(spark, book, idx)
    drops = str(tmp_path / "drops_pf")
    ck = str(tmp_path / "ck_pf")

    def run_wave(pred):
        corpus.where(pred).coalesce(1).write.mode("append").parquet(drops)
        q = streaming_index_vectors(
            read_embedding_stream(spark, drops), idx, checkpoint=ck, m=2
        )
        q.awaitTermination()

    run_wave("vec_id < 30")          # batch 0
    run_wave("vec_id >= 30 AND vec_id < 60")  # batch 1
    run_wave("vec_id >= 60 AND vec_id < 80")  # batch 2 (will be 'uncommitted')

    probes = corpus.where("vec_id <= 2")

    def from_idx():
        return sorted(
            map(
                tuple,
                knn_ivfpq_from_index(
                    spark, idx, probes, k=6, m=2, id_col="vec_id",
                    vec_col="embedding", round_to=4,
                ).collect(),
            )
        )

    def inflight(df):
        return sorted(
            map(
                tuple,
                knn_ivfpq(
                    df, probes, k=6, m=2, id_col="vec_id", vec_col="embedding",
                    round_to=4, centroids=book,
                ).collect(),
            )
        )

    ingested = corpus.where("vec_id < 80")
    assert from_idx() == inflight(ingested)

    # never-retired: the marker is absent and the live view skips the
    # netting aggregate entirely
    assert not os.path.isfile(os.path.join(idx, "_tombstones"))
    plan = pq_index_rows(spark, idx)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan

    # crash simulation: batch 2 was WRITTEN but its commit never landed
    # (the Hadoop .crc shadow must go too, or the re-commit's rename
    # trips over it — a real crash leaves neither file)
    os.remove(os.path.join(ck, "commits", "2"))
    crc = os.path.join(ck, "commits", ".2.crc")
    if os.path.isfile(crc):
        os.remove(crc)

    # snapshot-boundary retire against COMMITTED rows only
    retired = "vec_id < 60 AND vec_id % 5 = 1"
    retire_from_pq_index(
        corpus.where(retired), idx, m=2, id_col="vec_id", vec_col="embedding",
        batch_dir=-1,
    )
    plan = pq_index_rows(spark, idx)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan  # tombstones exist -> netting is on

    survivors = corpus.where(f"vec_id < 80 AND NOT ({retired})")
    assert from_idx() == inflight(survivors)

    # full fold refuses on the uncommitted tail; partial folds the prefix
    with pytest.raises(ValueError, match="partial=True"):
        compact_pq_index(spark, idx, keep_batch_layout=True, checkpoint=ck)
    def tail_files():
        out = {}
        for root, _dirs, files in os.walk(os.path.join(idx, "batch_id=2")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    tail_before = tail_files()
    assert tail_before
    compact_pq_index(
        spark, idx, keep_batch_layout=True, checkpoint=ck, partial=True
    )
    dirs = sorted(n for n in os.listdir(idx) if n.startswith("batch_id="))
    assert dirs == ["batch_id=1", "batch_id=2"]  # fold dir + untouched tail
    assert tail_files() == tail_before
    assert from_idx() == inflight(survivors)  # results unchanged

    # resume: the checkpoint redelivers batch 2 into ITS OWN dir
    # (idempotent overwrite), then the new wave lands as batch 3
    run_wave("vec_id >= 80")
    dirs = sorted(n for n in os.listdir(idx) if n.startswith("batch_id="))
    assert dirs == ["batch_id=1", "batch_id=2", "batch_id=3"]
    final = corpus.where(f"NOT ({retired})")
    assert from_idx() == inflight(final)


def test_streaming_ann_rerank_matches_batch(spark, tmp_path):
    """Retrieval-at-ingest, exact: probes ingested across micro-batches,
    served per batch by the two-stage rerank over the stored index; the
    accumulated output equals the BATCH knn_ivfpq_rerank over all probes
    (same k, c, probes), and redelivered batches overwrite their own
    dirs rather than duplicate."""
    import os

    from sum_spark.operators.similarity import knn_ivfpq_rerank, write_pq_index
    from sum_spark.streaming.ann import read_embedding_stream, streaming_ann_rerank

    rng = np.random.default_rng(83)
    d = 8
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(d).tolist()) for i in range(90)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "pq_rr_stream")
    write_pq_index(corpus, idx, m=2, n_codes=4, id_col="vec_id", vec_col="embedding")

    probes = spark.createDataFrame(
        [(1000 + i, rng.standard_normal(d).tolist()) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    drops = str(tmp_path / "probe_drops")
    probes.where("vec_id < 1003").coalesce(1).write.parquet(drops)
    probes.where("vec_id >= 1003").coalesce(1).write.mode("append").parquet(drops)

    out_dir = str(tmp_path / "rr_out")
    q = streaming_ann_rerank(
        read_embedding_stream(spark, drops),
        idx,
        corpus,
        out_dir,
        checkpoint=str(tmp_path / "ck_rr"),
        k=5,
        c=20,
        m=2,
        n_probes=2,
        round_to=4,
    )
    q.awaitTermination()

    got = sorted(
        (r["probe_id"], r["vec_id"], r["sim"], r["rank"])
        for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        map(
            tuple,
            knn_ivfpq_rerank(
                spark, idx, corpus, probes, k=5, c=20, m=2, n_probes=2,
                id_col="vec_id", vec_col="embedding", round_to=4,
            ).collect(),
        )
    )
    assert got == want and got
    assert any(
        n.startswith("batch_id=") for n in os.listdir(out_dir)
    )  # idempotent per-batch dirs
