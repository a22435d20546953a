"""End-to-end analyze pipeline (analyze.run_analysis): level gating,
snapshot-cache warm starts, TTL expiry, JSON export — the §3.1 lifecycle."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from querysight_spark.analyze import AnalysisResult, run_analysis
from querysight_spark.schemas import (
    DBT_EDGES_SCHEMA,
    DBT_MODEL_MAP_SCHEMA,
    DBT_SOURCES_SCHEMA,
)
from querysight_spark.sources.snapshot_cache import SnapshotCache


@pytest.fixture(scope="module")
def dims(spark):
    model_map = spark.createDataFrame(
        [
            ("orders", "stg_orders", "main", "table", 0),
            ("main.orders", "stg_orders", "main", "table", 1),
            ("analytics.daily_sales", "daily_sales", "analytics", "table", 0),
            ("never_used", "mart_unused", "main", "table", 0),
        ],
        schema=DBT_MODEL_MAP_SCHEMA,
    )
    sources = spark.createDataFrame(
        [("raw.events", "staging.raw_events")], schema=DBT_SOURCES_SCHEMA
    )
    edges = spark.createDataFrame(
        [("daily_sales", "stg_orders"), ("stg_orders", "raw_base")],
        schema=DBT_EDGES_SCHEMA,
    )
    return model_map, sources, edges


def test_level_gating(spark, query_log, dims):
    model_map, sources, edges = dims
    r1 = run_analysis(spark, query_log, level="data_collection")
    assert r1.logs is not None and r1.patterns is None

    r2 = run_analysis(spark, query_log, level="pattern_analysis", min_frequency=1)
    assert r2.patterns is not None and r2.coverage is None

    r3 = run_analysis(
        spark, query_log, model_map, sources, edges,
        level="dbt_integration", min_frequency=1,
    )
    assert r3.coverage is not None and r3.recommendations is None

    r4 = run_analysis(
        spark, query_log, model_map, sources, edges,
        level="optimization", min_frequency=1,
    )
    assert r4.recommendations is not None

    with pytest.raises(ValueError):
        run_analysis(spark, query_log, level="nonsense")
    with pytest.raises(ValueError):
        run_analysis(spark, query_log, level="dbt_integration")  # no model_map


def test_full_pipeline_results(spark, query_log, dims):
    model_map, sources, edges = dims
    r = run_analysis(
        spark, query_log, model_map, sources, edges,
        level="optimization", min_frequency=1, extract_from_sql=True,
    )
    used = {x.model_name for x in r.used_models.collect()}
    assert used == {"stg_orders", "daily_sales"}
    unused = {x.model_name for x in r.unused_models.collect()}
    assert unused == {"mart_unused"}
    # staging.raw_events matches the declared source (C5 suffix rule);
    # orders + analytics.daily_sales resolve to models → uncovered is empty
    uncovered = {x.tname for x in r.uncovered_tables.collect()}
    assert uncovered == set()
    upstream = {x.model_name for x in r.upstream_models.collect()}
    assert upstream == {"stg_orders", "daily_sales", "raw_base"}
    cov = r.coverage.first()
    assert cov.total_models == 3 and cov.used_models == 2
    assert cov.coverage_pct == pytest.approx(200.0 / 3.0)
    summ = r.summary.first()
    assert summ.total_queries == 6 and summ.distinct_users == 4
    recs = {x.normalized_query: x.rec_type for x in r.recommendations.collect()}
    assert "select count(*) from analytics.daily_sales" in recs


def test_cache_warm_start_and_bypass(spark, query_log, dims, tmp_path):
    model_map, _, _ = dims
    cache = SnapshotCache(str(tmp_path / "snap"))
    kw = dict(level="pattern_analysis", min_frequency=1, cache=cache)

    cold = run_analysis(spark, query_log, model_map, **kw, now=1000.0)
    assert cold.cache_hits == []
    warm = run_analysis(spark, query_log, model_map, **kw, now=2000.0)
    assert len(warm.cache_hits) == 2  # level1 + level2 snapshots
    assert sorted(r.normalized_query for r in warm.patterns.collect()) == sorted(
        r.normalized_query for r in cold.patterns.collect()
    )

    bypass = run_analysis(spark, query_log, model_map, **kw, use_cache=False, now=3000.0)
    assert bypass.cache_hits == []

    # per-level TTLs: 13.5h after the bypass rewrite (now=3000), the 12h
    # pattern_analysis snapshot has expired but the 24h data_collection one
    # is still warm — exactly one hit
    expired = run_analysis(spark, query_log, model_map, **kw, now=3000.0 + 13 * 3600)
    assert [h.split("/")[0] for h in expired.cache_hits] == ["data_collection"]


def test_prior_state_merge(spark, query_log, dims):
    model_map, _, _ = dims
    from querysight_spark.plans.patterns import aggregate_patterns

    prior = aggregate_patterns(query_log, min_frequency=1, extract_from_sql=False)
    r = run_analysis(
        spark, query_log, model_map,
        level="dbt_integration", min_frequency=1, extract_from_sql=False,
        prior_patterns=prior,
    )
    merged = {x.normalized_query: x.frequency for x in r.patterns.collect()}
    fresh = {x.normalized_query: x.frequency for x in prior.collect()}
    # same window merged once: frequencies double (caller owns idempotency
    # keys — this asserts merge arithmetic, not dedup)
    assert merged == {k: 2 * v for k, v in fresh.items()}


def test_export_writes_json(spark, query_log, dims, tmp_path):
    model_map, sources, edges = dims
    r = run_analysis(
        spark, query_log, model_map, sources, edges,
        level="dbt_integration", min_frequency=1,
    )
    out = str(tmp_path / "export")
    r.export(out, single_file=True)
    files = [
        os.path.join(root, f)
        for root, _, fs in os.walk(f"{out}/patterns")
        for f in fs
        if f.endswith(".json")
    ]
    assert len(files) == 1  # single_file=True coalesces
    rows = [json.loads(line) for line in open(files[0])]
    assert {"normalized_query", "frequency", "dbt_models_used"} <= set(rows[0])


def test_cache_and_level_keys():
    from querysight_spark.sources.snapshot_cache import cache_key, level_key

    assert cache_key("a", 1) == cache_key("a", 1) != cache_key("a", 2)
    k1 = level_key("level2", "win", schema_fingerprint="v1")
    k2 = level_key("level2", "win", schema_fingerprint="v2")
    assert k1 != k2 and k1.split("_")[1] == k2.split("_")[1]  # same params, new schema prefix
    assert len(level_key("x")) == 64  # bare sha256


def _new_jobs(spark, build):
    """(build(), ids of the Spark jobs it started)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = build()
    return out, set(tracker.getJobIdsForGroup()) - before


@pytest.fixture(scope="module")
def local_dims(spark):
    """The test dims as local relations, the way catalog_frames builds a
    parsed project's: collecting them starts no Spark job."""
    from querysight_spark.sources.dbt_catalog import DbtCatalog, catalog_frames

    cat = DbtCatalog(
        models=[
            {"name": "stg_orders", "schema": "main", "materialized": "table"},
            {"name": "daily_sales", "schema": "analytics", "materialized": "table"},
            {"name": "mart_unused", "schema": "main", "materialized": "table"},
        ],
        sources=[("raw.events", "staging.raw_events")],
        edges=[("daily_sales", "stg_orders"), ("stg_orders", "raw_base")],
    )
    return catalog_frames(spark, cat)


def test_run_analysis_job_budget(spark, query_log, local_dims):
    """At level optimization the only jobs are the pattern checkpoint's;
    the summary, the resolve and the coverage reports start none."""
    from querysight_spark.plans.coverage import (
        coverage_metrics,
        resolve_models,
        uncovered_tables,
        used_models,
    )
    from querysight_spark.plans.patterns import aggregate_patterns

    model_map, sources, edges = local_dims
    _, checkpoint_jobs = _new_jobs(
        spark,
        lambda: aggregate_patterns(query_log, min_frequency=1, sort=False)
        .localCheckpoint(),
    )
    res, jobs = _new_jobs(
        spark,
        lambda: run_analysis(
            spark, query_log, model_map, sources, edges,
            level="optimization", min_frequency=1,
        ),
    )
    assert checkpoint_jobs and len(jobs) == len(checkpoint_jobs)
    summary, jobs = _new_jobs(spark, res.summary.first)
    assert jobs == set() and summary.total_queries == 6

    def build():
        resolved = resolve_models(res.patterns, model_map)
        uncovered_tables(resolved, sources)
        coverage_metrics(model_map, used_models(resolved))

    _, jobs = _new_jobs(spark, build)
    assert jobs == set()


def _log_with_nulls(spark, query_log):
    extra = spark.createDataFrame(
        [
            ("n1", "SELECT 1", "select ?", "SELECT", None, dt.datetime(2024, 1, 7),
             2000.0, 0, 0, 1, 1, 16, "", [], [], []),
            ("n2", "SELECT 1", "select ?", "SELECT", "dave", dt.datetime(2024, 1, 7),
             None, 0, 0, 1, 1, 16, "", [], [], []),
            ("n3", "SELECT 2", "select ?", "SELECT", None, dt.datetime(2024, 1, 8),
             None, 0, 0, 1, 1, 16, "", [], [], []),
        ],
        schema=query_log.schema,
    )
    return query_log.unionByName(extra)


@pytest.mark.parametrize(
    "case", ["fixture", "empty_window", "null_user_and_duration", "sample"]
)
def test_observed_summary_matches_summary_stats(spark, query_log, local_dims, case):
    from querysight_spark.plans.report import summary_stats

    logs, kw = query_log, {}
    if case == "empty_window":
        kw["start_time"] = dt.datetime(2030, 1, 1)
    elif case == "null_user_and_duration":
        logs = _log_with_nulls(spark, query_log)
    elif case == "sample":
        kw["sample_fraction"] = 0.5
    res = run_analysis(
        spark, logs, local_dims[0], level="dbt_integration", min_frequency=1, **kw
    )
    observed, jobs = _new_jobs(spark, res.summary.collect)
    assert jobs == set()  # the observed row, not a second scan
    assert res.summary.schema == summary_stats(res.logs).schema
    assert observed == summary_stats(res.logs).collect()
    if case == "empty_window":
        assert observed[0].total_queries == 0 and observed[0].slow is None
    if case == "null_user_and_duration":
        assert observed[0].total_queries == 9 and observed[0].distinct_users == 5
    if case == "fixture":
        assert observed[0].asDict() == dict(
            total_queries=6, distinct_users=4, slow=3, medium=1, fast=2
        )
    assert_impact_order(res.patterns)


def assert_impact_order(patterns):
    """res.patterns keeps the E1 impact order over the unsorted checkpoint."""
    rows = patterns.collect()
    impact = [(-(p.frequency * p.avg_duration_ms), p.pattern_id) for p in rows]
    assert impact == sorted(impact)
    return rows


def test_summary_after_pattern_cache_hit(spark, query_log, local_dims, tmp_path):
    """A level-2 snapshot hit skips the pattern scan, so the summary is
    summary_stats over the (cached) log and matches the cold run's."""
    cache = SnapshotCache(str(tmp_path / "snap"))
    kw = dict(level="dbt_integration", min_frequency=1, cache=cache, now=1000.0)
    cold = run_analysis(spark, query_log, local_dims[0], **kw)
    cold_summary = cold.summary.collect()
    warm = run_analysis(spark, query_log, local_dims[0], **kw)
    assert any(h.startswith("pattern_analysis/") for h in warm.cache_hits)
    warm_summary, jobs = _new_jobs(spark, warm.summary.collect)
    assert jobs  # summary_stats scans the cached log
    assert warm_summary == cold_summary
    assert len(assert_impact_order(warm.patterns)) == 4
