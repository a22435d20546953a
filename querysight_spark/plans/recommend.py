"""Rule-based optimization recommender (H2-H4 analog, SURVEY §7.2 phase 6).

The reference generates per-pattern recommendations by prompting an LLM
(/root/reference/utils/ai_suggester.py:208-381) with heuristics assembled at
utils/ai_suggester.py:36-206: system-vs-user table classification (B8),
unmapped-table detection, keyword pattern-type tags (G10), and the
high-frequency (>100 exec) / long-running (>1000 ms) flags
(utils/ai_suggester.py:99-100). The response taxonomy is
``Type: [INDEX|REWRITE_QUERY|NEW_DBT_MODEL|NEW_DBT_MACRO]`` with
``Impact: [HIGH|MEDIUM|LOW]`` (utils/ai_suggester.py:199-204).

Here the same heuristics run as pure column expressions — fully
distributed, deterministic, and oracle-checkable — with the LLM isolated
behind an optional enrichment hook (SURVEY §7.4.6): the default path never
makes a network call. Rule precedence (documented divergence — the
reference delegates the final choice to a non-deterministic model; we pin
the priority the prompt itself suggests, "prioritize creating a new dbt
model for unmapped tables" at utils/ai_suggester.py:197):

1. unmapped user tables        → NEW_DBT_MODEL (HIGH if hot, else MEDIUM)
2. long-running AND has joins  → REWRITE_QUERY (HIGH)
3. long-running                → INDEX (HIGH if also high-frequency)
4. high-frequency              → NEW_DBT_MACRO (MEDIUM)
otherwise: no recommendation (row filtered out), and patterns touching
ONLY system tables are skipped entirely (the reference prompt returns
None for those, utils/ai_suggester.py:50-51).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# B8 system-table classification (utils/ai_suggester.py:39-46)
SYSTEM_SCHEMA_RE = r"^(system|information_schema|pg_catalog)\."

HIGH_FREQUENCY = 100  # executions per window (utils/ai_suggester.py:99)
LONG_RUNNING_MS = 1000.0  # avg duration (utils/ai_suggester.py:100)

# G10 keyword → pattern-type tags (utils/ai_suggester.py:77-96)
_PATTERN_TYPES = [
    ("group by", "Aggregation"),
    ("join", "Join"),
    ("where", "Filter"),
    ("with", "CTE"),
    ("union", "SetOperation"),
    ("window", "Window"),
    ("having", "ComplexFilter"),
    ("order by", "Sorting"),
]


def _is_system(col):
    return F.lower(col).rlike(SYSTEM_SCHEMA_RE)


def with_table_classes(patterns: DataFrame) -> DataFrame:
    """Split ``tables_accessed`` into system vs user tables (B8)."""

    def _sys(t):
        return _is_system(t)

    def _usr(t):
        return ~_is_system(t)

    return patterns.withColumn(
        "system_tables", F.filter(F.col("tables_accessed"), _sys)
    ).withColumn("user_tables", F.filter(F.col("tables_accessed"), _usr))


def with_pattern_types(patterns: DataFrame, sql_col: str = "sql_pattern") -> DataFrame:
    """G10: keyword-indicator tags as a sorted array column. A bare SELECT
    with no indicators tags as 'Simple Select' (utils/ai_suggester.py:93-96)."""
    low = F.lower(F.col(sql_col))
    tags = F.array_compact(
        F.array(
            *[
                F.when(low.contains(kw), F.lit(tag)).otherwise(F.lit(None))
                for kw, tag in _PATTERN_TYPES
            ]
        )
    )
    tags = F.when(
        (F.size(tags) == 0) & low.contains("select"), F.array(F.lit("Simple Select"))
    ).otherwise(tags)
    return patterns.withColumn("pattern_types", F.sort_array(tags))


def parse_llm_response(df: DataFrame, response_col: str = "response") -> DataFrame:
    """H3: parse an LLM recommendation response (section markers
    ``Type:/Description:/Impact:`` plus a fenced \\`\\`\\`sql block —
    /root/reference/utils/ai_suggester.py:291-350) into a
    ``parsed`` STRUCT<rec_type, description, impact, sql> column.

    Pure regexp_extract expressions (tolerant of ``**bold**`` markers and
    ``[BRACKETED]`` values like the reference's parser); unmatched sections
    surface as NULL rather than the reference's 'UNKNOWN' string so
    downstream filters can use IS NULL. Runs distributed — relevant when
    responses are produced by a batched provider over many patterns."""
    col = F.col(response_col)

    def _section(marker: str) -> F.Column:
        pat = rf"(?im)^\**{marker}\**:\**\s*\[?([^\]\n]*?)\]?\s*$"
        out = F.regexp_extract(col, pat, 1)
        return F.when(out == "", F.lit(None)).otherwise(F.trim(out))

    sql = F.regexp_extract(col, r"(?is)```sql\s*(.*?)\s*```", 1)
    sql = F.when(sql == "", F.lit(None)).otherwise(F.trim(sql))
    return df.withColumn(
        "parsed",
        F.struct(
            _section("Type").alias("rec_type"),
            _section("Description").alias("description"),
            _section("Impact").alias("impact"),
            sql.alias("sql"),
        ),
    )


def recommendations(patterns: DataFrame, resolved: DataFrame) -> DataFrame:
    """Deterministic per-pattern recommendations.

    Input: pattern aggregate (plans.patterns.aggregate_patterns output) and
    its C1 resolution (coverage.resolve_models output).
    Output columns: pattern_id, normalized_query, rec_type, impact,
    description, pattern_types, unmapped_tables, frequency,
    avg_duration_ms — one row per recommended pattern, patterns with
    nothing to recommend absent.

    Distribution: the unmapped user tables are a filter + groupBy(pattern)
    over the already-resolved relation; everything else is per-row
    expressions joined back on pattern_id.
    """
    pats = with_pattern_types(with_table_classes(patterns))

    unmapped = (
        resolved.where(F.col("model_name").isNull() & ~_is_system(F.col("tname")))
        .groupBy("pattern_id")
        .agg(F.sort_array(F.collect_set("tname")).alias("unmapped_tables"))
    )

    df = (
        pats.join(unmapped, "pattern_id", "left")
        .withColumn(
            "unmapped_tables",
            F.coalesce(F.col("unmapped_tables"), F.array().cast("array<string>")),
        )
        .where(F.size("user_tables") > 0)  # system-only patterns are skipped
    )

    hot = (F.col("frequency") > HIGH_FREQUENCY) | (
        F.col("avg_duration_ms") > LONG_RUNNING_MS
    )
    long_running = F.col("avg_duration_ms") > LONG_RUNNING_MS
    high_freq = F.col("frequency") > HIGH_FREQUENCY
    has_join = F.array_contains(F.col("pattern_types"), "Join")

    rec_type = (
        F.when(F.size("unmapped_tables") > 0, F.lit("NEW_DBT_MODEL"))
        .when(long_running & has_join, F.lit("REWRITE_QUERY"))
        .when(long_running, F.lit("INDEX"))
        .when(high_freq, F.lit("NEW_DBT_MACRO"))
    )
    impact = (
        F.when(
            rec_type == "NEW_DBT_MODEL",
            F.when(hot, F.lit("HIGH")).otherwise(F.lit("MEDIUM")),
        )
        .when(rec_type == "REWRITE_QUERY", F.lit("HIGH"))
        .when(
            rec_type == "INDEX",
            F.when(high_freq, F.lit("HIGH")).otherwise(F.lit("MEDIUM")),
        )
        .otherwise(F.lit("MEDIUM"))
    )
    description = (
        F.when(
            rec_type == "NEW_DBT_MODEL",
            F.concat(
                F.lit("Create dbt model(s) for "),
                F.size("unmapped_tables").cast("string"),
                F.lit(" unmapped table(s): "),
                F.array_join("unmapped_tables", ","),
            ),
        )
        .when(
            rec_type == "REWRITE_QUERY",
            F.lit("Rewrite long-running join query; consider pre-joined model"),
        )
        .when(
            rec_type == "INDEX",
            F.lit("Add index/sort-key for long-running scan predicates"),
        )
        .otherwise(F.lit("Extract high-frequency pattern into a dbt macro"))
    )

    return (
        df.withColumn("rec_type", rec_type)
        .where(F.col("rec_type").isNotNull())
        .select(
            "pattern_id",
            "normalized_query",
            "rec_type",
            impact.alias("impact"),
            description.alias("description"),
            "pattern_types",
            "unmapped_tables",
            "frequency",
            "avg_duration_ms",
        )
    )
