from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from querysight_spark.plans.coverage import (
    coverage_metrics,
    patterns_with_models,
    resolve_models,
    uncovered_tables,
    unused_models,
    upstream_closure,
    used_models,
)
from querysight_spark.schemas import DBT_MODEL_MAP_SCHEMA, DBT_SOURCES_SCHEMA
from querysight_spark.sources.dbt_catalog import DbtCatalog, catalog_frames


@pytest.fixture(scope="module")
def model_map(spark):
    rows = [
        ("daily_sales", "daily_sales", "analytics", "table", 0),
        ("analytics.daily_sales", "daily_sales", "analytics", "table", 1),
        ("user_stats", "user_stats", "analytics", "view", 0),
        ("analytics.user_stats", "user_stats", "analytics", "view", 1),
        ("orders_clean", "orders_clean", "staging", "incremental", 0),
        ("staging.orders_clean", "orders_clean", "staging", "incremental", 1),
    ]
    return spark.createDataFrame(rows, schema=DBT_MODEL_MAP_SCHEMA)


@pytest.fixture(scope="module")
def sources(spark):
    rows = [("raw.events", "rawdb.raw.events"), ("raw.orders", "raw.orders_src")]
    return spark.createDataFrame(rows, schema=DBT_SOURCES_SCHEMA)


@pytest.fixture(scope="module")
def patterns(spark):
    rows = [
        ("p1", ["analytics.daily_sales", "mystery_table"]),
        ("p2", ["ANALYTICS.USER_STATS", "db.raw.events"]),
        ("p3", ["orders_clean"]),
        ("p4", []),
    ]
    return spark.createDataFrame(rows, ["pattern_id", "tables_accessed"])


@pytest.fixture(scope="module")
def resolved(spark, patterns, model_map):
    return resolve_models(patterns, model_map)


def test_resolve_models_rank_priority(spark, resolved):
    got = {(r.pattern_id, r.tname): r.model_name for r in resolved.collect()}
    assert got[("p1", "analytics.daily_sales")] == "daily_sales"
    assert got[("p1", "mystery_table")] is None
    # case-insensitive resolution
    assert got[("p2", "ANALYTICS.USER_STATS")] == "user_stats"
    assert got[("p3", "orders_clean")] == "orders_clean"


def test_patterns_with_models(spark, patterns, resolved):
    out = {r.pattern_id: r.dbt_models_used for r in patterns_with_models(patterns, resolved).collect()}
    assert out["p1"] == ["daily_sales"]
    assert out["p2"] == ["user_stats"]
    assert out["p4"] == []


def test_used_and_unused_models(spark, model_map, resolved):
    used = used_models(resolved)
    assert sorted(r.model_name for r in used.collect()) == [
        "daily_sales", "orders_clean", "user_stats",
    ]
    assert unused_models(model_map, used).count() == 0


def test_uncovered_tables_suffix_source_match(spark, model_map, sources, resolved):
    # db.raw.events → unmapped by models, but matches source 'rawdb.raw.events'
    # by... exact? lower(physical)=rawdb.raw.events vs tname db.raw.events: no.
    # endswith('.'+tname)? '.db.raw.events' no → stays uncovered? The C1 step
    # normalizes nothing here; tname='db.raw.events' lower. physical ends with
    # 'raw.events' but rule requires '.'+full tname. So uncovered = both.
    out = [r.tname for r in uncovered_tables(resolved, sources).collect()]
    assert out == ["db.raw.events", "mystery_table"]
    # a bare ref matching by suffix IS covered:
    p = spark.createDataFrame([("px", ["events"])], ["pattern_id", "tables_accessed"])
    out2 = [r.tname for r in uncovered_tables(resolve_models(p, model_map), sources).collect()]
    assert out2 == []  # rawdb.raw.events endswith '.events'


# a → {b, c} → d (diamond), d → e ⇄ f (cycle), f → g, and g → a closes a
# cycle back through the used set; x is used but has no upstream edges
_DAG = [
    ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
    ("e", "f"), ("f", "e"), ("f", "g"), ("g", "a"),
]


@pytest.mark.parametrize(
    "max_hops, expected",
    [
        (0, {"a", "x"}),
        (1, {"a", "x", "b", "c"}),
        (2, {"a", "x", "b", "c", "d"}),
        (None, {"a", "x", "b", "c", "d", "e", "f", "g"}),
    ],
)
def test_upstream_closure(spark, max_hops, expected):
    _, _, edges = catalog_frames(spark, DbtCatalog(edges=_DAG))
    used = spark.createDataFrame([("a",), ("x",)], "model_name string")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    closure = upstream_closure(used, edges, max_hops=max_hops)
    assert set(tracker.getJobIdsForGroup()) - before == set()  # built lazily
    assert {r.model_name for r in closure.collect()} == expected


def test_demo_dims_collect_without_jobs(spark):
    from querysight_spark.demo import build_model_map, build_sources_dim

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    n = len(build_model_map(spark).collect()) + len(build_sources_dim(spark).collect())
    assert n == 32 + 6 and set(tracker.getJobIdsForGroup()) - before == set()


def test_coverage_metrics(spark, model_map, resolved):
    used = used_models(resolved)
    m = coverage_metrics(model_map, used).collect()[0]
    assert m.total_models == 3 and m.used_models == 3
    assert m.coverage_pct == 100.0 and m.unused_models == 0


def _resolve_map(spark, tables, map_rows):
    pats = spark.createDataFrame(
        [("p", tables)], "pattern_id string, tables_accessed array<string>"
    )
    mm = spark.createDataFrame(map_rows, schema=DBT_MODEL_MAP_SCHEMA)
    return resolve_models(pats, mm)


def test_resolve_models_ties_and_candidate_priority(spark):
    rows = [
        # equal match_rank on one key: the smaller model_name wins
        ("shared", "zeta", None, None, 0),
        ("shared", "alpha", None, None, 0),
        # a.b.c: the exact key wins even with a worse match_rank
        ("a.b.c", "m_exact", None, None, 5),
        ("c", "m_bare", None, None, 0),
        ("b.c", "m_schema_table", None, None, 0),
        # y.w: only the schema.table key exists
        ("y.w", "m_yw", None, None, 1),
    ]
    tables = ["shared", "A.B.C", "q.b.c", "z.y.w", "nothing.here"]
    got = {r.tname: r.model_name for r in _resolve_map(spark, tables, rows).collect()}
    assert got == {
        "shared": "alpha",
        "A.B.C": "m_exact",
        "q.b.c": "m_bare",  # bare beats schema.table
        "z.y.w": "m_yw",
        "nothing.here": None,
    }


def test_resolve_models_degenerate_table_names(spark):
    rows = [("a", "m_a", None, None, 0), ("b", "m_b", None, None, 0)]
    tables = ["a.", ".b", "A.B.C", "", None, "a", "a", ".b"]
    got = sorted(
        (r.tname, r.model_name) for r in _resolve_map(spark, tables, rows).collect()
    )
    # '' and NULL are dropped, duplicates resolve once; 'a.' has the
    # candidates 'a.', '' and 'a.', none of which is a key
    assert got == [(".b", "m_b"), ("A.B.C", None), ("a", "m_a"), ("a.", None)]


def test_resolve_and_uncovered_with_empty_dims(spark):
    model_map, sources, _ = catalog_frames(spark, DbtCatalog())
    pats = spark.createDataFrame(
        [("p1", ["b.t", "a"]), ("p2", ["a"])], ["pattern_id", "tables_accessed"]
    )
    resolved = resolve_models(pats, model_map)
    assert {r.model_name for r in resolved.collect()} == {None}
    assert [r.tname for r in uncovered_tables(resolved, sources).collect()] == [
        "a", "b.t",
    ]
    m = coverage_metrics(model_map, used_models(resolved)).first()
    assert (m.total_models, m.used_models, m.coverage_pct, m.unused_models) == (
        0, 0, 0.0, 0,
    )


def test_uncovered_tables_dot_boundary_suffix_rule(spark):
    model_map, sources, _ = catalog_frames(
        spark, DbtCatalog(sources=[("src.z", "x.y.z")])
    )
    tables = ["z", "y.z", "x.y.z", "Y.Z", ".z", "w.z"]
    pats = spark.createDataFrame([("p", tables)], ["pattern_id", "tables_accessed"])
    out = [r.tname for r in uncovered_tables(resolve_models(pats, model_map), sources)
           .collect()]
    assert out == [".z", "w.z"]
