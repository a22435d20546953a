"""Hypertable-style time rollups: bucketed continuous aggregates with
multi-resolution re-aggregation (the timescale continuous-aggregate /
"hypertable rollup" shape the reference class of tools lacks —
SURVEY §2.I design extensions).

``time_rollup`` is one tumbling-window aggregation; ``reaggregate`` rolls
a finer rollup up to a coarser bucket WITHOUT touching raw data — the
core hypertable trick: hourly→daily→monthly chains re-aggregate
rollup-sized inputs (buckets × groups rows), so refreshing coarse tiers
costs minutes-of-rollup not hours-of-scan at 100 TB. Only additive
aggregates (count/sum/min/max) participate; averages are derived
count+sum at read time, never stored (they don't re-aggregate).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# additive metric set: metric name -> (agg fn, re-agg fn)
_AGGS = {
    "n": (lambda v: F.count(F.lit(1)), F.sum),
    "sum": (lambda v: F.sum(v), F.sum),
    "min": (lambda v: F.min(v), F.min),
    "max": (lambda v: F.max(v), F.max),
}


def time_rollup(
    df: DataFrame,
    time_col: str,
    value_col: str,
    every: str = "1 hour",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling-window rollup: per (bucket, groups) additive aggregates.
    Buckets are epoch-aligned (Spark ``window()``), so `'1 hour'` matches
    ``date_trunc('hour', ...)`` exactly."""
    out = (
        df.groupBy(F.window(time_col, every).alias("win"), *group_cols)
        .agg(
            *[
                fn(F.col(value_col)).alias(name)
                for name, (fn, _re) in _AGGS.items()
            ]
        )
        .select(
            F.col("win.start").alias("bucket_start"),
            *group_cols,
            *[F.col(name) for name in _AGGS],
        )
    )
    return out


def reaggregate(
    rollup: DataFrame,
    every: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Roll a finer rollup up to coarser buckets using only the additive
    metrics — no raw-data scan. Input must be a ``time_rollup`` output
    whose bucket width divides ``every``."""
    return (
        rollup.groupBy(F.window("bucket_start", every).alias("win"), *group_cols)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
        )
        .select(
            F.col("win.start").alias("bucket_start"),
            *group_cols,
            "n", "sum", "min", "max",
        )
    )


def upsert_rollup_tier(
    new_rollup: DataFrame,
    path: str,
    partition_granularity: str = "day",
) -> None:
    """Incremental tier maintenance: overwrite ONLY the calendar partitions
    present in ``new_rollup`` (dynamic partition overwrite), leaving every
    other chunk's files untouched. This is how a 100 TB tier absorbs a new
    day of data — recompute the affected day(s) from raw, upsert those
    partitions, never rewrite history. Re-running the same day is
    idempotent (same input → same partition contents)."""
    spark = new_rollup.sparkSession
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out = new_rollup.withColumn(
            "p_date",
            F.date_trunc(partition_granularity, F.col("bucket_start")).cast("date"),
        )
        out.write.mode("overwrite").partitionBy("p_date").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def hopping_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Overlapping (hopping) window rollup: each event contributes to
    window/slide windows (2 for 1h/30m) — the smoothing tier dashboards
    read when tumbling buckets are too jumpy. Built on ``F.window``'s
    hop form, which EXPANDS each row into its windows map-side (an
    explode, not a self-join) and then runs the ordinary partial+final
    hash agg keyed on (window, groups); epoch-aligned boundaries keep
    the result engine-portable. Sums are DECIMAL(18,2)-cast like
    ``time_rollup`` so merge order can never change a digit."""
    from pyspark.sql import functions as F

    w = F.window(F.col(ts_col), window, slide)
    return (
        events.groupBy(w.alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_sum_dec"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n_events",
            F.round(F.col("_sum_dec").cast("double"), 2).alias("sum_v"),
        )
    )
