"""Physical layout (sources.layout): bucketed joins run with zero
exchanges, partitioned writes prune, results equal the unbucketed plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from querysight_spark.sources.layout import (
    ensure_database,
    write_bucketed,
    write_partitioned,
)


@pytest.fixture()
def bucket_db(spark, tmp_path):
    ensure_database(spark, "bucketdb", str(tmp_path / "wh"))
    yield "bucketdb"
    spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_bucketed_join_has_no_exchange(spark, bucket_db):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed(left, f"{bucket_db}.lt", ["k"], num_buckets=4, sort_cols=["k"])
    write_bucketed(right, f"{bucket_db}.rt", ["k"], num_buckets=4, sort_cols=["k"])

    lt, rt = spark.table(f"{bucket_db}.lt"), spark.table(f"{bucket_db}.rt")
    # hint away the broadcast (tables here are tiny) so the plan shows what
    # bucketing buys on fact-fact joins: a sort-merge join with NO shuffle
    joined = lt.join(rt.hint("merge"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # bucket layout replaces it
    assert "Bucketed: true" in plan
    # and the result is identical to the shuffled join
    assert joined.count() == left.join(right, "k").count() == 1000
    row = joined.where(F.col("k") == 7).first()
    assert (row.a, row.b) == (14, 21)


def test_unbucketed_join_does_exchange(spark):
    left = spark.range(0, 1000).select(F.col("id").alias("k"))
    # force a non-broadcast join so the baseline really shuffles
    right = spark.range(0, 1000).select(F.col("id").alias("k")).hint("merge")
    plan = left.join(right, "k")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(100)],
        "id long, part string, v double",
    )
    path = str(tmp_path / "pt")
    write_partitioned(df, path, ["part"])
    back = spark.read.parquet(path).where(F.col("part") == "a")
    assert back.count() == 50
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter is applied at the file-index level, not as a row filter
    assert "PartitionFilters: [isnotnull(part" in plan or "part#" in plan


def test_hive_partitioned_write_prunes_on_partition_column(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "hive_events")
    df = spark.createDataFrame(
        [(i, "purchase" if i % 3 == 0 else ("error" if i % 3 == 1 else "view"),
          float(i))
         for i in range(30)],
        "event_id long, event_type string, value double",
    )
    df.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    q = back.where(F.col("event_type").isin(["purchase", "error"]))
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the filter must land as a PartitionFilter (directory pruning),
    # not a post-scan row filter
    assert "PartitionFilters: [" in plan and "event_type" in plan
    assert q.count() == 20
    # partition column round-trips through directory names
    got = {r.event_type for r in back.select("event_type").distinct().collect()}
    assert got == {"purchase", "error", "view"}


def test_dynamic_partition_pruning_fires_on_dim_filter(spark, tmp_path):
    """DPP: a filter on the DIM side of a join prunes the partitioned
    fact's directories at runtime (no static partition predicate exists
    in the query). The optimizer behavior that makes star-schema joins
    over Hive layouts scan only the joined partitions at 100 TB."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "dpp_fact")
    fact = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 5).alias("part_key"),
        (F.col("id") * 2).alias("v"),
    )
    fact.write.mode("overwrite").partitionBy("part_key").parquet(path)
    dim = spark.createDataFrame(
        [(0, "keep"), (1, "keep"), (2, "drop")], "part_key long, tag string"
    )
    j = (
        spark.read.parquet(path)
        .join(dim.where(F.col("tag") == "keep"), "part_key")
        .agg(F.sum("v").alias("s"))
    )
    rows = j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # values prove only part_key 0/1 contributed
    want = sum(2 * i for i in range(1000) if i % 5 in (0, 1))
    assert rows[0].s == want
