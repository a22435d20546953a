"""Report layer: summaries (D4/D5), sorts/pagination (E2/E3), latest-version
dedup (E4/E7), JSON export (A10).

The reference computes these driver-side over collected lists
(/root/reference/querysight.py:63-268, utils/cache_manager.py:484-497).
Here they are plans: pagination is row_number banding (scales past
driver memory), export is a distributed ``write.json``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from querysight_spark.sources.catalog import local_frame

SLOW_MS = 1000.0  # querysight.py:107,147-149
MEDIUM_MS = 100.0


SUMMARY_SCHEMA = StructType(
    [
        StructField("total_queries", LongType(), False),
        StructField("distinct_users", LongType(), False),
        StructField("slow", LongType(), True),
        StructField("medium", LongType(), True),
        StructField("fast", LongType(), True),
    ]
)


def _summary_columns(distinct_users: Column) -> list[Column]:
    """The D4/D5 aggregates, with the distinct-user count passed in:
    observed metrics reject DISTINCT aggregates."""
    dur = F.col("query_duration_ms")
    return [
        F.count(F.lit(1)).alias("total_queries"),
        distinct_users.alias("distinct_users"),
        F.sum(F.when(dur > SLOW_MS, 1).otherwise(0)).alias("slow"),
        F.sum(F.when((dur > MEDIUM_MS) & (dur <= SLOW_MS), 1).otherwise(0)).alias(
            "medium"
        ),
        F.sum(F.when(dur <= MEDIUM_MS, 1).otherwise(0)).alias("fast"),
    ]


def summary_stats(logs: DataFrame) -> DataFrame:
    """D4/D5: one-row global summary with speed buckets
    (querysight.py:139-163)."""
    return logs.agg(*_summary_columns(F.countDistinct("user")))


def observe_summary(logs: DataFrame) -> tuple[DataFrame, Observation]:
    """``logs`` carrying ``summary_stats``' aggregates as observed
    metrics: the first action over a plan built on the returned frame
    computes them on its own scan, and ``observed_summary`` reads them.
    The distinct users are a ``collect_set``, so the driver receives the
    set of distinct user names."""
    obs = Observation()
    users = F.size(F.collect_set("user")).cast("long")
    return logs.observe(obs, *_summary_columns(users)), obs


def observed_summary(spark: SparkSession, obs: Observation) -> DataFrame:
    """``summary_stats``' one-row frame from an observation whose action
    has finished, as a local relation: reading it starts no job.

    AQE drops a query stage that produced no rows from the final plan,
    and its observed metrics with it, so a metrics row with no fields
    means the observed scan saw no rows: the summary of an empty log.
    ``Observation.get`` fails on such a row, hence the look at the JVM
    row first."""
    if obs._jo.getRow().length() == 0:
        row = (0, 0, None, None, None)
    else:
        got = obs.get
        row = tuple(got[name] for name in SUMMARY_SCHEMA.fieldNames())
    return local_frame(spark, [row], SUMMARY_SCHEMA)


def pattern_summary(patterns: DataFrame) -> DataFrame:
    """D4 over aggregated patterns: Σ frequency, Σ duration, distinct users /
    tables across all patterns (querysight.py:139-145)."""
    exploded_users = patterns.select(F.explode("users").alias("u"))
    exploded_tables = patterns.select(F.explode("tables_accessed").alias("t"))
    base = patterns.agg(
        F.sum("frequency").alias("total_queries"),
        F.round(F.sum("total_duration_ms"), 2).alias("total_duration_ms"),
        F.sum("memory_usage").alias("total_memory"),
    )
    return (
        base.crossJoin(exploded_users.agg(F.countDistinct("u").alias("distinct_users")))
        .crossJoin(exploded_tables.agg(F.countDistinct("t").alias("distinct_tables")))
    )


def sort_patterns(patterns: DataFrame, by: str = "frequency") -> DataFrame:
    """E2 user-selected sort; E1 impact default (frequency·avg)."""
    keys = {
        "frequency": [F.col("frequency").desc()],
        "duration": [F.col("avg_duration_ms").desc()],
        "memory": [(F.col("memory_usage") / F.col("frequency")).desc()],  # avg memory (fidelity F1/F2)
        "impact": [(F.col("frequency") * F.col("avg_duration_ms")).desc()],
    }[by]
    return patterns.orderBy(*keys, F.col("pattern_id"))


def paginate(df: DataFrame, order_cols: Sequence[Column], page: int, page_size: int = 20) -> DataFrame:
    """E3 pagination as ORDER BY + LIMIT/OFFSET (querysight.py:77-84).
    ``order_cols`` must impose a total order for determinism. Right for
    shallow pages; for deep pages OFFSET materializes-and-discards
    ``page·page_size`` rows per request — use ``page_after``."""
    return df.orderBy(*order_cols).offset(page * page_size).limit(page_size)


def page_after(
    df: DataFrame,
    order_col: str,
    key_col: str,
    last_order,
    last_key,
    page_size: int = 20,
    descending: bool = False,
) -> DataFrame:
    """E3 keyset pagination (VERDICT r2 item 8): the page AFTER the row
    whose (order_col, key_col) was ``(last_order, last_key)``, under
    ORDER BY order_col [DESC], key_col. ``key_col`` must be unique so the
    composite key totally orders the data and pages never skip/repeat
    rows even with duplicate order values.

    Scale rationale: OFFSET n costs O(n + page) per request — at page
    10,000 every request re-sorts and discards 200k rows. The keyset
    predicate costs O(page): it is a plain filter, so against a persisted
    source it PUSHES INTO THE SCAN (parquet min/max row-group pruning on
    ``order_col``) and the sort only ranks the rows that survive. Keep
    LIMIT/OFFSET for shallow interactive pages; cursors/exports use this.

    PRECONDITION: ``order_col`` must be non-null (the standard keyset
    contract — a NULL order value compares as NULL and the cursor filter
    would silently drop the row from every page, diverging from OFFSET's
    NULLS-LAST behavior). Coalesce nullable sort keys to a sentinel
    before paging; ``last_order``/``last_key`` must come from a real
    prior-page row, hence non-null."""
    if last_order is None or last_key is None:
        raise ValueError(
            "page_after cursor values must be non-null (taken from the "
            "last row of a previous page)"
        )
    o, k = F.col(order_col), F.col(key_col)
    if descending:
        after = (o < F.lit(last_order)) | ((o == F.lit(last_order)) & (k > F.lit(last_key)))
        order = [o.desc(), k]
    else:
        after = (o > F.lit(last_order)) | ((o == F.lit(last_order)) & (k > F.lit(last_key)))
        order = [o, k]
    return df.where(after).orderBy(*order).limit(page_size)


def latest_version_per_key(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[Column]
) -> DataFrame:
    """E4/E7: latest row per key via row_number
    (utils/cache_manager.py:488-497 ORDER BY updated_at DESC LIMIT 1)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def export_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    """A10 JSON export sink (querysight.py:815-848). ``single_file`` matches
    the reference's one-file report; leave False at scale so executors write
    in parallel."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def to_junction_tables(patterns: DataFrame) -> dict[str, DataFrame]:
    """C7 in reverse: reconstruct the reference's SQLite junction tables
    (pattern_users / pattern_tables / pattern_dbt_models,
    utils/cache_manager.py:127-171) from the native array columns — only
    for exports that need the normalized star shape; the engine itself
    keeps arrays (SURVEY §1.3)."""
    out = {
        "pattern_users": patterns.select(
            "pattern_id", F.explode("users").alias("user")
        ),
        "pattern_tables": patterns.select(
            "pattern_id", F.explode("tables_accessed").alias("table_name")
        ),
    }
    if "dbt_models_used" in patterns.columns:
        out["pattern_dbt_models"] = patterns.select(
            "pattern_id", F.explode("dbt_models_used").alias("model_name")
        )
    return out


def compare_runs(
    a: DataFrame,
    b: DataFrame,
    key: str = "normalized_query",
    freq_col: str = "frequency",
    avg_col: str = "avg_ms",
    slow_ratio: float = 1.2,
) -> DataFrame:
    """Run-over-run pattern diff — the "what regressed since last week"
    report the reference's users ask of its pattern tables: a FULL OUTER
    join of two aggregated runs on the pattern key, classifying each
    pattern as new / gone / slower / faster / stable by the avg-duration
    ratio. One shuffle on the pattern key; both inputs are
    pattern-cardinality relations, far smaller than the logs they
    summarize."""
    fa = a.select(
        F.col(key),
        F.col(freq_col).alias("freq_a"),
        F.col(avg_col).alias("_avg_a"),
    )
    fb = b.select(
        F.col(key),
        F.col(freq_col).alias("freq_b"),
        F.col(avg_col).alias("_avg_b"),
    )
    j = fa.join(fb, key, "full_outer")
    status = (
        F.when(F.col("freq_a").isNull(), "new")
        .when(F.col("freq_b").isNull(), "gone")
        .when(F.col("_avg_b") > F.col("_avg_a") * F.lit(slow_ratio), "slower")
        .when(F.col("_avg_b") * F.lit(slow_ratio) < F.col("_avg_a"), "faster")
        .otherwise("stable")
    )
    return j.select(
        F.col(key),
        "freq_a",
        "freq_b",
        F.round("_avg_a", 2).alias("avg_a"),
        F.round("_avg_b", 2).alias("avg_b"),
        status.alias("status"),
    )
