"""Explicit StructTypes for every entity the engine touches (SURVEY §1.2).

The reference declares its schemas as dataclass field types
(/root/reference/utils/models.py:29-249); we declare Spark StructTypes and
never rely on inference. Set-valued attributes (users, tables) are native
ArrayType columns canonicalized with sort_array — the reference's SQLite
junction tables (utils/cache_manager.py:127-171) exist only because SQLite
lacks arrays, so we drop them.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Raw fact row: one executed query (QueryLog, utils/models.py:29-93; column
# projection utils/data_acquisition.py:120-138).
QUERY_LOG_SCHEMA = StructType(
    [
        StructField("query_id", StringType(), False),
        StructField("query", StringType(), True),
        StructField("normalized_query", StringType(), True),
        StructField("query_kind", StringType(), True),
        StructField("user", StringType(), True),
        StructField("query_start_time", TimestampType(), True),
        StructField("query_duration_ms", DoubleType(), True),
        StructField("read_rows", LongType(), True),
        StructField("read_bytes", LongType(), True),
        StructField("result_rows", LongType(), True),
        StructField("result_bytes", LongType(), True),
        StructField("memory_usage", LongType(), True),
        StructField("current_database", StringType(), True),
        StructField("databases", ArrayType(StringType()), True),
        StructField("tables", ArrayType(StringType()), True),
        StructField("columns", ArrayType(StringType()), True),
    ]
)

# dbt model-catalog dimension, pre-exploded into lookup-key variants the way
# the reference registers them (utils/dbt_mapper.py:176,257-258).
DBT_MODEL_MAP_SCHEMA = StructType(
    [
        StructField("table_key", StringType(), False),  # lowercase 'name' or 'schema.name'
        StructField("model_name", StringType(), False),
        StructField("schema", StringType(), True),
        StructField("materialized", StringType(), True),
        # lower rank wins when several keys resolve (exact > bare > schema.table)
        StructField("match_rank", IntegerType(), False),
    ]
)

# dbt source refs (utils/dbt_mapper.py:94-118): physical table matched by
# equality or '.'-suffix (utils/models.py:346-351).
DBT_SOURCES_SCHEMA = StructType(
    [
        StructField("source_ref", StringType(), False),
        StructField("physical_table", StringType(), False),
    ]
)

# dbt dependency DAG as an edge list (adjacency sets at utils/models.py:211-222).
DBT_EDGES_SCHEMA = StructType(
    [
        StructField("model", StringType(), False),
        StructField("depends_on", StringType(), False),
    ]
)

# --- driver testdata schemas (FIXTURES.md §1) -------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
