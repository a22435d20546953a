"""Bucketed layout: the co-located join must plan WITHOUT a shuffle
Exchange while the identical non-bucketed join plans WITH one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from querysight_spark.sources.layout import (
    co_located_join,
    has_shuffle,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucket_db(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("bucketdb2")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb2 LOCATION '{loc}'")
    yield "bucketdb2"
    spark.sql("DROP DATABASE IF EXISTS bucketdb2 CASCADE")


def test_bucketed_join_has_no_shuffle(spark, bucket_db):
    left = spark.range(0, 1000).select(
        (F.col("id") % 50).alias("user_id"), F.col("id").alias("event_id")
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("user_id"), (F.col("id") * 10).alias("score")
    )
    write_bucketed(left, f"{bucket_db}.ev", ["user_id"], num_buckets=4)
    write_bucketed(right, f"{bucket_db}.usr", ["user_id"], num_buckets=4)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = co_located_join(spark, f"{bucket_db}.ev", f"{bucket_db}.usr",
                                 on=["user_id"])
        assert joined.count() == 1000
        assert not has_shuffle(joined), "bucketed join must not shuffle"

        plain_left = spark.range(0, 1000).select(
            (F.col("id") % 50).alias("user_id"), F.col("id").alias("event_id")
        )
        plain_right = spark.range(0, 50).select(
            F.col("id").alias("user_id"), (F.col("id") * 10).alias("score")
        )
        plain = plain_left.join(plain_right, ["user_id"])
        plain.count()
        assert has_shuffle(plain), "sanity: non-bucketed join does shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_has_no_shuffle(spark, bucket_db):
    df = spark.range(0, 1000).select(
        (F.col("id") % 20).alias("user_id"), F.col("id").alias("v")
    )
    write_bucketed(df, f"{bucket_db}.agg_src", ["user_id"], num_buckets=4)
    agg = spark.table(f"{bucket_db}.agg_src").groupBy("user_id").agg(
        F.sum("v").alias("s")
    )
    assert agg.count() == 20
    assert not has_shuffle(agg), "groupBy on the bucket key must not shuffle"
