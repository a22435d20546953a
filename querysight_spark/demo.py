"""Deterministic query-log analog over the driver testdata.

The pipeline-parity probes (SURVEY §2.8 QL1-QL12) were written against a
``query_log`` fixture the driver does not generate. This module derives an
equivalent fact table — plus dbt model-map / sources / edges dims — from the
``events`` table, with transformations chosen to be bit-identical between
Spark and DuckDB (integer modulo, FLOOR-before-cast, JSON extraction), so
every pipeline operator can still be hash-checked against the DuckDB oracle.

Engine-vs-oracle float discipline (applies to everything here):
  * double sums are order-dependent; at sf0.01 magnitudes the cross-engine
    drift is ≲1e-9, so sums of 2-decimal data are output as ROUND(sum, 2)
    (exactly recoverable) and averages as ROUND(sum,2)/count — the division
    then runs on bit-identical doubles in both engines.
  * never CAST double→int directly (Spark truncates, DuckDB rounds);
    always FLOOR first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from querysight_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Spark side: DataFrame transformations
# ---------------------------------------------------------------------------


def build_query_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → query_log analog (16-column QueryLog shape, SURVEY §1.1)."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        F.col("event_id").cast("string").alias("query_id"),
        F.concat(
            F.lit("SELECT * FROM db"),
            (F.col("user_id") % 3).cast("string"),
            F.lit(".t"),
            (k % 12).cast("string"),
            F.lit(" WHERE k = "),
            k.cast("string"),
        ).alias("query"),
        F.concat(F.col("event_type"), F.lit("_"), (k % 7).cast("string")).alias(
            "normalized_query"
        ),
        F.when(k % 5 == 0, F.lit("INSERT")).otherwise(F.lit("SELECT")).alias("query_kind"),
        F.concat(F.lit("user_"), (F.col("user_id") % 8).cast("string")).alias("user"),
        F.col("ts").alias("query_start_time"),
        (F.col("value") * 20).alias("query_duration_ms"),
        F.floor(F.col("value")).cast("long").alias("read_rows"),
        (F.floor(F.col("value")) * 100).cast("long").alias("read_bytes"),
        F.lit(1).cast("long").alias("result_rows"),
        F.lit(64).cast("long").alias("result_bytes"),
        (F.floor(F.col("value") * 10)).cast("long").alias("memory_usage"),
        F.when(k % 4 == 0, F.lit("")).otherwise(F.lit("main")).alias("current_database"),
        F.array(F.lit("main")).alias("databases"),
        F.array(
            F.concat(
                F.lit("db"),
                (F.col("user_id") % 3).cast("string"),
                F.lit(".t"),
                (k % 12).cast("string"),
            )
        ).alias("tables"),
        F.array().cast("array<string>").alias("columns"),
    )


def build_model_map(spark: SparkSession) -> DataFrame:
    """dbt model-map analog: models model_0..model_7 owning tables t0..t7 in
    db0..db2 (t8..t11 deliberately unmapped → uncovered). Pre-exploded keys
    with match_rank, like sources.dbt_catalog produces."""
    rows = []
    for i in range(8):
        rows.append((f"t{i}", f"model_{i}", f"db{i % 3}", "table", 0))
        for db in range(3):
            rows.append((f"db{db}.t{i}", f"model_{i}", f"db{db}", "table", 1))
    from querysight_spark.schemas import DBT_MODEL_MAP_SCHEMA
    from querysight_spark.sources.catalog import local_frame

    return local_frame(spark, rows, DBT_MODEL_MAP_SCHEMA)


def build_sources_dim(spark: SparkSession) -> DataFrame:
    """dbt sources analog: t8/t9 are declared sources (matched by the C5
    suffix rule), t10/t11 stay truly uncovered."""
    from querysight_spark.schemas import DBT_SOURCES_SCHEMA
    from querysight_spark.sources.catalog import local_frame

    rows = [
        ("raw.t8", "warehouse.db0.t8"),
        ("raw.t8b", "warehouse.db1.t8"),
        ("raw.t8c", "warehouse.db2.t8"),
        ("raw.t9", "db0.t9"),
        ("raw.t9b", "db1.t9"),
        ("raw.t9c", "db2.t9"),
    ]
    return local_frame(spark, rows, DBT_SOURCES_SCHEMA)


def build_edges(spark: SparkSession) -> DataFrame:
    """dbt DAG analog: model_i depends on model_{i-1} (chain of depth 8)."""
    from querysight_spark.schemas import DBT_EDGES_SCHEMA
    from querysight_spark.sources.catalog import local_frame

    rows = [(f"model_{i}", f"model_{i - 1}") for i in range(1, 8)]
    return local_frame(spark, rows, DBT_EDGES_SCHEMA)


def build_raw_query_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → RAW-text query log: unlike ``build_query_log``, this fixture
    carries NO ``normalized_query`` and only a partial ``tables`` column, so
    consuming it forces the engine through the G1 literal-masking normalizer
    (functions.normalize) and the H1 table-extraction UDF
    (functions.sqlextract) — the two custom parsing stages the fixture-keyed
    pipeline queries bypass.

    Eight query shapes (chosen by k % 8) cover the parser surface: plain
    scan, JOIN + string literal, CTE-name exclusion, quoted identifiers with
    an escaped quote, dbt ``ref()`` resolution inside a block comment row,
    FROM comma-lists with aliases + line comments, INSERT..SELECT (only the
    SELECT's source is a read), and catalog.schema.table 3-part names.
    Every construct is byte-identical to RAW_QUERY_LOG_CTE below."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    u = (F.col("user_id") % 3).cast("string")
    a = (k % 12).cast("string")
    b = ((k + 1) % 12).cast("string")
    c = ((k + 2) % 12).cast("string")
    m = ((k + F.col("user_id")) % 8).cast("string")
    e = ((k + F.col("user_id")) % 4).cast("string")
    ks = k.cast("string")
    s = k % 8
    tbl = F.concat(F.lit("db"), u, F.lit(".t"), a)
    query = (
        F.when(s == 0, F.concat(F.lit("SELECT * FROM "), tbl, F.lit(" WHERE k = "), ks))
        .when(s == 1, F.concat(
            F.lit("SELECT a, b FROM "), tbl, F.lit(" JOIN db"), u, F.lit(".t"), b,
            F.lit(" ON a = b WHERE x = 'lit"), ks, F.lit("'")))
        .when(s == 2, F.concat(
            F.lit("WITH cte1 AS (SELECT * FROM "), tbl,
            F.lit(" WHERE v > 10) SELECT * FROM cte1 WHERE y = 2.5")))
        .when(s == 3, F.concat(
            F.lit('SELECT * FROM "db'), u, F.lit('"."t'), a,
            F.lit("\" WHERE name = 'it''s "), ks, F.lit("'")))
        .when(s == 4, F.concat(
            F.lit("SELECT count(*) FROM {{ ref('model_"), m,
            F.lit("') }} /* batch "), ks, F.lit(" */")))
        .when(s == 5, F.concat(
            F.lit("SELECT * FROM "), tbl, F.lit(", db"), u, F.lit(".t"), c,
            F.lit(" x WHERE x.id = "), ks, F.lit(" -- trace "), ks))
        .when(s == 6, F.concat(
            F.lit("INSERT INTO "), tbl, F.lit(" SELECT * FROM staging.events_"), e,
            F.lit(" WHERE ts > '2024-01-01'")))
        .otherwise(F.concat(
            F.lit("SELECT x FROM warehouse."), tbl,
            F.lit(" WHERE val IN (1, 2, "), ks, F.lit(")")))
    )
    return ev.select(
        F.col("event_id").cast("string").alias("query_id"),
        query.alias("query"),
        F.lit("SELECT").alias("query_kind"),
        F.concat(F.lit("user_"), (F.col("user_id") % 8).cast("string")).alias("user"),
        F.col("ts").alias("query_start_time"),
        (F.col("value") * 20).alias("query_duration_ms"),
        F.floor(F.col("value")).cast("long").alias("read_rows"),
        (F.floor(F.col("value")) * 100).cast("long").alias("read_bytes"),
        (F.floor(F.col("value") * 10)).cast("long").alias("memory_usage"),
        F.when(k % 3 == 0, F.array(F.lit("extra.audit"))).alias("tables"),
    )


# ---------------------------------------------------------------------------
# DuckDB side: the same analog as CTE SQL (bit-identical transformations)
# ---------------------------------------------------------------------------

QUERY_LOG_CTE = """
query_log AS (
  SELECT
    CAST(event_id AS VARCHAR)                                    AS query_id,
    concat('SELECT * FROM db', CAST(user_id % 3 AS VARCHAR), '.t',
           CAST(CAST(json_extract_string(props, '$.k') AS INT) % 12 AS VARCHAR),
           ' WHERE k = ', json_extract_string(props, '$.k'))     AS query,
    concat(event_type, '_',
           CAST(CAST(json_extract_string(props, '$.k') AS INT) % 7 AS VARCHAR))
                                                                 AS normalized_query,
    CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 5 = 0
         THEN 'INSERT' ELSE 'SELECT' END                         AS query_kind,
    concat('user_', CAST(user_id % 8 AS VARCHAR))                AS "user",
    ts                                                           AS query_start_time,
    value * 20                                                   AS query_duration_ms,
    CAST(FLOOR(value) AS BIGINT)                                 AS read_rows,
    CAST(FLOOR(value) AS BIGINT) * 100                           AS read_bytes,
    CAST(1 AS BIGINT)                                            AS result_rows,
    CAST(64 AS BIGINT)                                           AS result_bytes,
    CAST(FLOOR(value * 10) AS BIGINT)                            AS memory_usage,
    CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 4 = 0
         THEN '' ELSE 'main' END                                 AS current_database,
    concat('db', CAST(user_id % 3 AS VARCHAR), '.t',
           CAST(CAST(json_extract_string(props, '$.k') AS INT) % 12 AS VARCHAR))
                                                                 AS tname
  FROM events
)
"""

MODEL_MAP_CTE = """
dbt_model_map AS (
  SELECT concat('db', CAST(db.d AS VARCHAR), '.t', CAST(i.i AS VARCHAR)) AS table_key,
         concat('model_', CAST(i.i AS VARCHAR)) AS model_name
  FROM (SELECT UNNEST(range(8)) AS i) i CROSS JOIN (SELECT UNNEST(range(3)) AS d) db
  UNION ALL
  SELECT concat('t', CAST(i.i AS VARCHAR)), concat('model_', CAST(i.i AS VARCHAR))
  FROM (SELECT UNNEST(range(8)) AS i) i
)
"""

SOURCES_CTE = """
dbt_sources AS (
  SELECT * FROM (VALUES
    ('raw.t8',  'warehouse.db0.t8'),
    ('raw.t8b', 'warehouse.db1.t8'),
    ('raw.t8c', 'warehouse.db2.t8'),
    ('raw.t9',  'db0.t9'),
    ('raw.t9b', 'db1.t9'),
    ('raw.t9c', 'db2.t9')
  ) AS t(source_ref, physical_table)
)
"""

EDGES_CTE = """
dbt_edges AS (
  SELECT concat('model_', CAST(i.i AS VARCHAR)) AS model,
         concat('model_', CAST(i.i - 1 AS VARCHAR)) AS depends_on
  FROM (SELECT UNNEST(range(1, 8)) AS i) i
)
"""

# Raw-text analog of build_raw_query_log: the same 8 query shapes, the G1
# masking chain as DuckDB regexp_replace (same RE2-portable regexes as
# functions/normalize.py, 'g' flag for replace-all), and the H1 extraction
# result precomputed per shape (expected_tables). $$-quoting keeps the regex
# and SQL-text fragments free of quote-doubling noise.
RAW_QUERY_LOG_CTE = """
raw_base AS (
  SELECT event_id, ts, value, user_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS k,
         CAST(user_id % 3 AS VARCHAR) AS u
  FROM events
),
raw_parts AS (
  SELECT *,
         concat('db', u, '.t', CAST(k % 12 AS VARCHAR)) AS tbl,
         concat('db', u, '.t', CAST((k + 1) % 12 AS VARCHAR)) AS tbl_b,
         concat('db', u, '.t', CAST((k + 2) % 12 AS VARCHAR)) AS tbl_c,
         concat('model_', CAST((k + user_id) % 8 AS VARCHAR)) AS ref_m,
         concat('staging.events_', CAST((k + user_id) % 4 AS VARCHAR)) AS src_e,
         CAST(k AS VARCHAR) AS ks
  FROM raw_base
),
raw_shaped AS (
  SELECT *,
    CASE k % 8
      WHEN 0 THEN concat('SELECT * FROM ', tbl, ' WHERE k = ', ks)
      WHEN 1 THEN concat('SELECT a, b FROM ', tbl, ' JOIN ', tbl_b,
                         $$ ON a = b WHERE x = 'lit$$, ks, $$'$$)
      WHEN 2 THEN concat('WITH cte1 AS (SELECT * FROM ', tbl,
                         ' WHERE v > 10) SELECT * FROM cte1 WHERE y = 2.5')
      WHEN 3 THEN concat($$SELECT * FROM "db$$, u, $$"."t$$,
                         CAST(k % 12 AS VARCHAR),
                         $$" WHERE name = 'it''s $$, ks, $$'$$)
      WHEN 4 THEN concat($$SELECT count(*) FROM {{ ref('model_$$,
                         CAST((k + user_id) % 8 AS VARCHAR),
                         $$') }} /* batch $$, ks, ' */')
      WHEN 5 THEN concat('SELECT * FROM ', tbl, ', ', tbl_c,
                         ' x WHERE x.id = ', ks, ' -- trace ', ks)
      WHEN 6 THEN concat('INSERT INTO ', tbl, ' SELECT * FROM ', src_e,
                         $$ WHERE ts > '2024-01-01'$$)
      ELSE concat('SELECT x FROM warehouse.', tbl,
                  ' WHERE val IN (1, 2, ', ks, ')')
    END AS query,
    CASE k % 8
      WHEN 0 THEN [tbl]
      WHEN 1 THEN [tbl, tbl_b]
      WHEN 2 THEN [tbl]
      WHEN 3 THEN [tbl]
      WHEN 4 THEN [ref_m]
      WHEN 5 THEN [tbl, tbl_c]
      WHEN 6 THEN [src_e]
      ELSE [tbl]
    END AS expected_tables
  FROM raw_parts
),
raw_norm AS (
  SELECT
    lower(trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(query, $$/\\*.*?\\*/$$, ' ', 'g'),
            $$--[^\\n]*$$, ' ', 'g'),
          $$'(?:[^']|'')*'$$, '?', 'g'),
        $$\\b\\d+(?:\\.\\d+)?\\b$$, '?', 'g'),
      $$\\s+$$, ' ', 'g'))) AS normalized_query,
    value * 20 AS query_duration_ms,
    list_distinct(
      coalesce(CASE WHEN k % 3 = 0 THEN ['extra.audit'] END,
               CAST([] AS VARCHAR[])) || expected_tables) AS all_tables
  FROM raw_shaped
)
"""
