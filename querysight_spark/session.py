"""SparkSession factory with scale-aware defaults.

The reference hand-tunes its ClickHouse client (max_threads=2,
max_block_size=100000, 30 s timeout — /root/reference/utils/data_acquisition.py:33-39).
Our equivalents are Spark confs: AQE for runtime re-planning (skew joins,
partition coalescing), explicit shuffle partitioning, Arrow for the few
Pandas-UDF stages, UTC session time so timestamps hash identically against
the DuckDB oracle.

At 100 TB these defaults still hold: AQE coalesces the 32-partition test
shuffle or a 2000-partition cluster shuffle equally well; the only knob a
cluster deploy changes is ``spark.sql.shuffle.partitions`` (set ≈ 2-3× total
cores) and executor sizing, both external to this code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "querysight-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback local[*]);
    on a real cluster the caller passes ``yarn``/``k8s`` and the same conf
    applies unchanged.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    # Make this package importable in executor Python workers regardless of
    # the driver's cwd (the H1 pandas UDF deserializes by module reference).
    # Local mode: workers inherit the driver env, so PYTHONPATH suffices.
    # Cluster mode: ship the package via --py-files / spark.submit.pyFiles;
    # executorEnv below covers the common shared-filesystem case.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + existing if existing else "")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # this is what keeps a skewed pattern-hash or user-id shuffle from
        # stalling on one straggler partition.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for the pandas-UDF stages (H1 extractor, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # The driver testdata stores events.ts as TIMESTAMP(NANOS), which the
        # parquet reader rejects by default; read nanos as long and let
        # sources.catalog convert back to TimestampType (integer div 1000).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Dimension tables (model map, edges, sources, nation/region) are
        # tiny; broadcast aggressively so fact-side scans never shuffle for
        # dim joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

