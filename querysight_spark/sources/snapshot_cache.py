"""Content-addressed Parquet snapshot cache with per-level TTLs.

Spark-first replacement for the reference's SQLite cache
(/root/reference/utils/cache_manager.py:17-377): level-keyed snapshots with
TTLs 24h/12h/6h/3h (utils/cache_manager.py:34-39), cache keys from hashed
parameters (utils/data_acquisition.py:238-241, querysight.py:534-654).

Design: each ``put`` writes a parquet snapshot under ``root/<level>/<key>/``
plus a tiny JSON manifest carrying ``written_at``/``expires_at``, published
last. ``get`` returns the DataFrame only if the manifest is still valid.
Unlike the reference (which ignores the cache_key when reading logs back —
utils/cache_manager.py:324, fidelity F7), reads are strictly keyed.

Scale: snapshots are plain parquet directories — at 100 TB a snapshot is a
partitioned dataset written by executors in parallel; only the manifest
(a few bytes) touches the driver. Swap the manifest for a Delta table's
transaction log if ACID upsert is needed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

# Per-level TTLs in seconds, mirroring utils/cache_manager.py:34-39.
LEVEL_TTLS = {
    "data_collection": 24 * 3600,
    "pattern_analysis": 12 * 3600,
    "dbt_integration": 6 * 3600,
    "optimization": 3 * 3600,
}


def cache_key(*params: object) -> str:
    """md5 of '_'-joined params (utils/data_acquisition.py:238-241)."""
    return hashlib.md5("_".join(str(p) for p in params).encode()).hexdigest()


def level_key(*params: object, schema_fingerprint: object | None = None) -> str:
    """G3 level cache key: sha256 of the joined params, optionally prefixed
    with an 8-hex schema-version fingerprint so a schema change invalidates
    downstream levels (querysight.py:564,592,650-654)."""
    h = hashlib.sha256("_".join(str(p) for p in params).encode()).hexdigest()
    if schema_fingerprint is not None:
        pfx = hashlib.sha256(str(schema_fingerprint).encode()).hexdigest()[:8]
        return f"{pfx}_{h}"
    return h


class SnapshotCache:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, level: str, key: str) -> str:
        safe = hashlib.md5(key.encode()).hexdigest() if os.sep in key else key
        return os.path.join(self.root, level, safe)

    def _manifest_path(self, level: str, key: str) -> str:
        return self._dir(level, key) + ".manifest.json"

    def put(self, df: DataFrame, level: str, key: str, now: float | None = None) -> str:
        """Write the snapshot, then publish its manifest. The old manifest
        is removed before the data is overwritten and the new one appears
        by atomic rename only after the write, so a put that fails
        part-way leaves ``get`` returning None, never partial data."""
        path = self._dir(level, key)
        mp = self._manifest_path(level, key)
        if os.path.exists(mp):
            os.remove(mp)
        df.write.mode("overwrite").parquet(path)
        now = time.time() if now is None else now
        ttl = LEVEL_TTLS.get(level, 3600)
        manifest = {"level": level, "key": key, "written_at": now, "expires_at": now + ttl}
        with open(mp + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(mp + ".tmp", mp)
        return path

    def is_valid(self, level: str, key: str, now: float | None = None) -> bool:
        mp = self._manifest_path(level, key)
        if not os.path.exists(mp):
            return False
        with open(mp) as f:
            manifest = json.load(f)
        now = time.time() if now is None else now
        return manifest.get("key") == key and now < float(manifest.get("expires_at", 0))

    def get(self, spark: SparkSession, level: str, key: str, now: float | None = None) -> DataFrame | None:
        if not self.is_valid(level, key, now=now):
            return None
        return spark.read.parquet(self._dir(level, key))

    def invalidate(self, level: str, key: str) -> None:
        mp = self._manifest_path(level, key)
        if os.path.exists(mp):
            os.remove(mp)
        path = self._dir(level, key)
        if os.path.isdir(path):
            shutil.rmtree(path)
