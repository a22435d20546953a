"""Physical layout helpers: partitioned and bucketed writes (SCALE.md's
co-located-join path).

Bucketing pre-shuffles a table ONCE at write time: both sides of a
recurring equi-join bucketed by the join key into the same bucket count
join with NO exchange — the per-query shuffle disappears. At 100 TB this
is the difference between re-shuffling the fact table for every
pattern/user join and never shuffling it again. Partitioned writes give
partition pruning on the filter column instead.

Bucketed tables must be saved through the session catalog
(``saveAsTable`` — plain ``parquet(path)`` silently drops bucket
metadata, a classic trap); ``ensure_database`` pins them under an
explicit location so tests and deployments control the storage root.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def ensure_database(spark: SparkSession, name: str, location: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name} LOCATION '{location}'")


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str], mode: str = "overwrite"
) -> None:
    """Hive-style partition layout → scans with equality/IN filters on the
    partition columns prune directories before any IO."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table. Joins/aggregations
    keyed on ``bucket_cols`` between tables sharing ``num_buckets`` read
    pre-shuffled data — no exchange in the plan."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def co_located_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two bucketed catalog tables on their bucket columns. When both
    sides were written with ``write_bucketed`` on ``on``, the planned join
    has no Exchange (verify with ``has_shuffle``)."""
    return spark.table(left_table).join(spark.table(right_table), list(on), how)


def has_shuffle(df: DataFrame) -> bool:
    """True when the physical plan contains a shuffle Exchange — the
    assertable core of every "this layout avoids the shuffle" claim in
    SCALE.md (broadcast exchanges don't count; they're the point)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(
        line.lstrip("+-* (0123456789) ").startswith("Exchange")
        for line in plan.splitlines()
    )


def zorder_value(cols: Sequence[str], mins: Sequence[float],
                 maxs: Sequence[float], bits: int = 8):
    """Morton (Z-order) interleave expression over ``cols``: each column
    is uniform-bucketized to ``bits`` bits inside its [min, max] range,
    and the bucket bits are interleaved into one sortable long. Pure
    column arithmetic — no UDF, no shuffle of its own. NULL values land
    in bucket 0 (the column minimum) by construction of the
    greatest/least clamp — callers with meaningfully-null clustering
    columns should filter or fill first."""
    from pyspark.sql import functions as F

    n = len(cols)
    parts = []
    for ci, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        span = float(hi) - float(lo) or 1.0
        bucket = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(c).cast("double") - F.lit(float(lo)))
                        / F.lit(span) * F.lit(float(1 << bits))).cast("long"),
            ),
        )
        for b in range(bits):
            # bit b of this column lands at interleaved position b*n + ci
            parts.append(
                F.shiftleft(F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                            b * n + ci)
            )
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z


def dataset_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a local parquet dataset — the
    local-FS stand-in for the Hadoop FileSystem listing a cluster
    deployment would use (listing is metadata-only either way; the data
    is never read)."""
    import os

    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ceil(total_bytes / target) evenly-sized files. Returns the output
    file count.

    The small-files problem is THE silent killer of long-lived 100 TB
    tables (streaming sinks and per-batch ingests leave thousands of
    KB-sized files; every query then pays per-file open/footer costs and
    the driver pays listing memory). Compaction is metadata-sized
    planning (one local/FS listing, no data read) + one even
    ``repartition`` rewrite. Round-robin repartition keeps output sizes
    uniform — ``coalesce`` would skip the shuffle but glues ADJACENT
    input files, preserving any size skew. With ``partition_cols`` the
    rewrite keeps the Hive directory layout (file count then applies
    per partition directory on average)."""
    _n, total = dataset_file_stats(path)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    out = df.repartition(n_out)
    w = out.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(out_path)
    return n_out
