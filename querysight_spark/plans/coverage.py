"""Coverage computation: C1-C6 joins, F1-F4 set ops, D6 metrics.

The reference resolves tables→models with per-row Python dict fallbacks
(/root/reference/utils/dbt_mapper.py:263-300) and computes coverage with
driver-side set algebra (utils/models.py:303-372). Here C1 runs once, in
``resolve_models``: the exploded (pattern, table) relation joined against
the broadcast model map — at 100 TB the fact side streams through a
broadcast-hash join with zero shuffle. Every other report (C2-C5, F4, D6,
and the recommender) is a small plan over that one resolved relation.
C6 walks the dbt DAG on the driver, which already holds it, and joins the
closure back as a broadcast dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from querysight_spark.schemas import DBT_EDGES_SCHEMA
from querysight_spark.sources.dbt_catalog import local_frame


def _candidate_keys(tname_col):
    """Lookup-key candidates for a table ref, in priority order (C1):
    rank 0 = exact ref (lowercased), rank 1 = bare table name,
    rank 2 = schema.table (last two parts). Mirrors the fallback chain at
    utils/dbt_mapper.py:263-300 as data instead of control flow."""
    parts = F.split(F.lower(tname_col), r"\.")
    n = F.size(parts)
    bare = F.element_at(parts, -1)
    schema_table = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    return F.array_distinct(
        F.when(n >= 2, F.array(F.lower(tname_col), bare, schema_table)).otherwise(
            F.array(F.lower(tname_col))
        )
    )


def resolve_models(patterns: DataFrame, model_map: DataFrame) -> DataFrame:
    """C1 over every table of every pattern, as a broadcast hash join:
    explode (pattern_id, tname), explode candidate keys (position =
    priority), join against the pre-exploded model map, keep the best match
    per (pattern_id, tname) via a row_number window.

    Returns (pattern_id, tname, model_name) with model_name NULL when the
    table resolves to nothing (left join keeps unmapped tables visible for
    C4). This is the one resolved relation every coverage and
    recommendation report reads."""
    tabs = patterns.select(
        "pattern_id", F.explode("tables_accessed").alias("tname")
    ).where(F.col("tname") != "")
    cands = tabs.select(
        "pattern_id",
        "tname",
        F.posexplode(_candidate_keys(F.col("tname"))).alias("cand_rank", "cand_key"),
    )
    joined = cands.join(
        F.broadcast(model_map), cands.cand_key == model_map.table_key, "left"
    )
    w = Window.partitionBy("pattern_id", "tname").orderBy(
        F.col("model_name").isNull().cast("int"),  # any match beats no match
        "cand_rank",
        "match_rank",
        "model_name",
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("pattern_id", "tname", "model_name")
    )


def patterns_with_models(patterns: DataFrame, resolved: DataFrame) -> DataFrame:
    """C2 enrichment: attach sorted ``dbt_models_used`` to each pattern
    (reference nested loop at querysight.py:616-623)."""
    per_pattern = (
        resolved.where(F.col("model_name").isNotNull())
        .groupBy("pattern_id")
        .agg(F.sort_array(F.collect_set("model_name")).alias("dbt_models_used"))
    )
    return patterns.join(per_pattern, "pattern_id", "left").withColumn(
        "dbt_models_used",
        F.coalesce(F.col("dbt_models_used"), F.array().cast("array<string>")),
    )


def used_models(resolved: DataFrame) -> DataFrame:
    """C3 semi-join: distinct models referenced by any pattern's tables
    (utils/models.py:327-343). Returns a single ``model_name`` column."""
    return (
        resolved.where(F.col("model_name").isNotNull())
        .select("model_name")
        .distinct()
    )


def uncovered_tables(resolved: DataFrame, sources: DataFrame) -> DataFrame:
    """C4 anti-join + C5 suffix theta-join: tables resolving to no model AND
    matching no declared dbt source (utils/models.py:344-354).

    The source match is the reference's ``physical == t OR
    physical endswith '.'+t`` (utils/models.py:346-351) — a non-equi
    condition, executed as a broadcast nested-loop against the tiny sources
    dim (bounded: |tables| × |sources| with |sources| ≈ dozens)."""
    unmapped = resolved.where(F.col("model_name").isNull()).select("tname").distinct()
    low_p = F.lower(sources.physical_table)
    low_t = F.lower(unmapped.tname)
    src_match = (low_p == low_t) | low_p.endswith(F.concat(F.lit("."), low_t))
    return (
        unmapped.join(F.broadcast(sources), src_match, "left_anti")
        .select("tname")
        .orderBy("tname")
    )


def _closure_rows(
    edges: list[tuple[str, str]], max_hops: int | None
) -> list[tuple[str, str]]:
    """(model, depends_on) for every model reachable upstream of ``model``
    in at most ``max_hops`` hops (None = unbounded). Breadth-first per model
    with a visited set, so cycles terminate and each pair appears once."""
    parents: dict[str, list[str]] = {}
    for model, dep in edges:
        parents.setdefault(model, []).append(dep)
    # every hop of a shortest path leaves a distinct node that has parents
    depth = len(parents) if max_hops is None else max_hops
    rows = []
    for model in parents:
        seen, frontier = {model}, [model]
        for _ in range(depth):
            nxt = []
            for m in frontier:
                for d in parents.get(m, ()):
                    if d not in seen:
                        seen.add(d)
                        nxt.append(d)
            if not nxt:
                break
            rows.extend((model, d) for d in nxt)
            frontier = nxt
    return rows


def upstream_closure(
    used: DataFrame, edges: DataFrame, max_hops: int | None = 1
) -> DataFrame:
    """C6: models reachable upstream from the used set, within
    ``max_hops`` hops (``None`` = transitive closure, ``0`` = the used set
    itself).

    ``max_hops=1`` reproduces the reference's one-hop union
    (utils/models.py:341-343). The edge list is a small catalog dim that
    ``catalog_frames`` builds as a local relation, so collecting it starts
    no Spark job. The closure is computed on the driver and joined back as
    one broadcast dim: building the frame starts no job, and every
    ``max_hops`` costs the same one join."""
    closure = local_frame(
        used.sparkSession,
        _closure_rows([(r.model, r.depends_on) for r in edges.collect()], max_hops),
        DBT_EDGES_SCHEMA,
    )
    base = used.select("model_name")
    reached = base.join(
        F.broadcast(closure), base.model_name == closure.model
    ).select(F.col("depends_on").alias("model_name"))
    return base.unionByName(reached).distinct()


def unused_models(model_map: DataFrame, used: DataFrame) -> DataFrame:
    """F4: all models − used models, via left-anti (utils/models.py:359)."""
    all_models = model_map.select("model_name").distinct()
    return all_models.join(used, "model_name", "left_anti")


def coverage_metrics(model_map: DataFrame, used: DataFrame) -> DataFrame:
    """D6: one-row coverage summary (utils/models.py:356-368)."""
    all_models = model_map.select("model_name").distinct()
    totals = all_models.agg(F.count("*").alias("total_models"))
    used_ct = used.agg(F.count("*").alias("used_models"))
    return (
        totals.crossJoin(used_ct)
        .withColumn(
            "coverage_pct",
            F.when(F.col("total_models") > 0,
                   F.col("used_models") * 100.0 / F.col("total_models"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn("unused_models", F.col("total_models") - F.col("used_models"))
    )
