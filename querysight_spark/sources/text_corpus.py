"""JSONL corpus source/sink — the interchange format of LLM data
pipelines (crawl dumps, annotation exports, eval sets ship as
newline-delimited JSON).

Scale rules encoded here:
  * reads take an EXPLICIT schema — schema inference is a full extra
    pass over the data (at 100 TB, a second 100 TB scan) and can drift
    between samples; the schema is the contract, not a guess.
  * unparseable lines are not dropped silently: ``columnNameOfCorruptRecord``
    routes them to a ``_corrupt_record`` column the caller can count,
    quarantine, or fail on (``assert_clean``).
  * JSONL is the EDGE format — land it, convert to parquet/z-ordered
    layout (sources/layout.py) for anything queried twice. write_jsonl
    exists for exports, not for storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from querysight_spark.sources.catalog import fixture_dir, load_table, mark_built

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Export as newline-delimited JSON (one object per line, one file per
    partition — repartition first to control export file count)."""
    df.write.mode(mode).json(path)


def documents_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """The testdata documents table exported once as JSONL per corpus
    vintage (``catalog.fixture_dir``); returns the export dir."""
    path, built = fixture_dir(sf_dir, "documents", "jsonl")
    if not built:
        write_jsonl(load_table(spark, "documents", sf_dir), path)
        mark_built(path)
    return path


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
) -> DataFrame:
    """Schema-enforced JSONL read. Corrupt lines surface in
    ``_corrupt_record`` (PERMISSIVE mode) instead of vanishing;
    ``assert_clean`` checks and drops the audit column."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def assert_clean(df: DataFrame) -> DataFrame:
    """Fail fast if any line failed to parse; returns the frame without
    the audit column. Cache-free: the corrupt count is a single agg over
    the one-column projection."""
    # Spark refuses a query whose referenced columns are ONLY the internal
    # corrupt-record column — keep a real column in the projection
    first_col = df.columns[0]
    bad = (
        df.select(first_col, "_corrupt_record")
        .where(F.col("_corrupt_record").isNotNull())
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"corrupt JSONL line(s), first: {bad[0]['_corrupt_record'][:200]!r}"
        )
    return df.drop("_corrupt_record")
