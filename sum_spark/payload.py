"""Result payload contract — parity with the reference's transport layer:
JSON-serialized results, gzip-compressed above a fixed threshold.

Reference: BuildPayload (/root/reference/node/service/service.go:106-124),
threshold/level constants at service.go:21-23 (2048 bytes,
BestCompression). In a Spark deployment compression is normally the
transport's concern (spark.io.compression.codec); this module exists so a
client of the reference's Run() API gets byte-compatible behavior from
the engine's stored-query results.
"""

from __future__ import annotations

import gzip
import json
from dataclasses import dataclass
from typing import Any

GZIP_THRESHOLD = 2048  # bytes (service.go:21-23)
GZIP_LEVEL = 9  # gzip.BestCompression


@dataclass(frozen=True)
class Payload:
    compressed: bool
    data: bytes

    def decode(self) -> Any:
        raw = gzip.decompress(self.data) if self.compressed else self.data
        return json.loads(raw)


def build_payload(result: Any) -> Payload:
    """JSON-marshal a stored-query result; gzip when the serialized form
    exceeds GZIP_THRESHOLD (exclusive, matching `len > threshold`)."""
    raw = json.dumps(result, separators=(",", ":"), default=_json_default).encode()
    if len(raw) > GZIP_THRESHOLD:
        # mtime=0 zeroes the gzip-header timestamp: output is deterministic
        # across calls and byte-compatible with Go's gzip (zero ModTime).
        return Payload(compressed=True, data=gzip.compress(raw, GZIP_LEVEL, mtime=0))
    return Payload(compressed=False, data=raw)


def _json_default(o: Any):
    try:
        import numpy as np

        if isinstance(o, np.generic):
            return o.item()
    except ImportError:  # pragma: no cover
        pass
    raise TypeError(f"not JSON-serializable: {type(o)!r}")


def info(spark, records_df=None, registry=None) -> dict:
    """Server-info analog (/root/reference/node/service/info.go:15-44,
    proto ServerInfo): engine + dataset statistics, including the
    reference's memory block (runtime.MemStats there; JVM heap + cached
    storage here — the quantities a Spark operator actually watches)."""
    sc = spark.sparkContext
    out = {
        "engine": "sum_spark",
        "version": sc.version,
        "cores": sc.defaultParallelism,
        "records": records_df.count() if records_df is not None else 0,
        "oracles": registry.list(per_page=10**9)[0] if registry is not None else 0,
    }
    try:
        rt = sc._jvm.java.lang.Runtime.getRuntime()
        used = int(rt.totalMemory()) - int(rt.freeMemory())
        cached_mem = cached_disk = 0
        for rdd_info in sc._jsc.sc().getRDDStorageInfo():
            cached_mem += int(rdd_info.memSize())
            cached_disk += int(rdd_info.diskSize())
        out["memory"] = {
            "heap_used_bytes": used,
            "heap_max_bytes": int(rt.maxMemory()),
            "cached_memory_bytes": cached_mem,
            "cached_disk_bytes": cached_disk,
        }
    except Exception:  # pragma: no cover - JVM introspection is best-effort
        out["memory"] = None
    return out
