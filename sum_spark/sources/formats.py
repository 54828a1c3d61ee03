"""Source/sink format support beyond Parquet (the canonical store).

Parquet is the engine's at-rest format (columnar, pushdown, statistics);
CSV/JSON are ingest formats (schema mandatory — inference is a full
extra pass at 100 TB), ORC an alternative columnar source. Table-format
connectors (Delta/Iceberg/Hudi) need their jars on the classpath and are
gated behind an import/availability check rather than stubbed imports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

READ_FORMATS = ("parquet", "orc", "json", "csv")


def read_source(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Schema-explicit reader. CSV/JSON REQUIRE a schema: inference reads
    the data twice and types drift run-to-run — never acceptable on a
    production pipeline."""
    if fmt not in READ_FORMATS:
        raise ValueError(f"unsupported source format {fmt!r}; known: {READ_FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(f"{fmt} sources require an explicit schema")
    if fmt == "csv":
        return reader.option("header", "true").csv(path)
    return getattr(reader, fmt)(path)


def write_sink(df: DataFrame, fmt: str, path: str, mode: str = "overwrite") -> None:
    if fmt not in READ_FORMATS:
        raise ValueError(f"unsupported sink format {fmt!r}; known: {READ_FORMATS}")
    writer = df.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    getattr(writer, fmt)(path)


def delta_available(spark: SparkSession) -> bool:
    """Whether a Delta Lake runtime is on the classpath (not in this
    environment; the store's copy-on-write rewrite is the fallback)."""
    try:
        spark._jvm.org.apache.spark.sql.delta.DeltaLog  # noqa: B018
        return True
    except Exception:
        return False


def compact_parquet_dir(
    spark: SparkSession, path: str, target_mb: int = 256
) -> int:
    """Rewrite a parquet directory into files near ``target_mb`` — the
    small-files fix (a 100 TB table accumulated from many incremental
    writes ends up with millions of KB-scale files; scan planning and
    footer reads then dominate I/O). File count comes from the ACTUAL
    on-disk byte total (not an in-memory size estimate — parquet
    compression makes those differ several-fold), so the output lands
    within one file of the target.

    Crash-safe staging: the compacted copy is written COMPLETELY to
    ``<path>.__compacted`` first, the original is then removed and the
    staged dir renamed into place. A crash before the swap leaves the
    original untouched (stale staging is overwritten on retry); a crash
    later, even part-way through the removal, is recovered here on the
    next call by dropping what is left of the original and finishing
    the rename (a staged dir with parquet's _SUCCESS marker is
    complete). Returns the file count.
    """
    import math
    import os
    import shutil

    staged = path.rstrip("/") + ".__compacted"
    if os.path.exists(os.path.join(staged, "_SUCCESS")):
        if os.path.isdir(path):  # possibly only part of the original
            shutil.rmtree(path)
        os.rename(staged, path)
    if not os.path.isdir(path):
        raise FileNotFoundError(path)

    def _bytes(d: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(d):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith((".", "_"))
            )
        return total

    n_files = max(1, math.ceil(_bytes(path) / (target_mb << 20)))
    if os.path.isdir(staged):
        shutil.rmtree(staged)  # stale staging from an earlier crash
    spark.read.parquet(path).repartition(n_files).write.parquet(staged)
    if not os.path.exists(os.path.join(staged, "_SUCCESS")):
        raise RuntimeError("staged compaction did not complete")
    shutil.rmtree(path)
    os.rename(staged, path)
    return n_files


def expire_partitions(
    path: str,
    partition_col: str,
    keep: "callable",
) -> list[str]:
    """Retention for a directory-partitioned table: drop every
    ``<partition_col>=<value>`` directory whose value fails ``keep`` —
    the TTL delete of a rolling corpus (drop snapshots/days/shards past
    the retention window) as pure directory removals, no rewrite, no
    scan of surviving data. Returns the dropped partition values.

    ``keep`` receives the partition value STRING (as encoded in the
    directory name) and returns truthy to retain. Values are compared
    as strings by the caller's function — dates in ISO form sort
    lexically, so `lambda d: d >= "2026-01-01"` is a correct cutoff.
    Deletion is per-directory and idempotent; a crash mid-run leaves a
    table that is still valid (some partitions simply not yet expired).
    """
    import os
    import shutil

    prefix = partition_col + "="
    dropped = []
    for name in sorted(os.listdir(path)):
        if not name.startswith(prefix):
            continue
        value = name[len(prefix):]
        if not keep(value):
            shutil.rmtree(os.path.join(path, name))
            dropped.append(value)
    return dropped
