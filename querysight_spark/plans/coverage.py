"""Coverage computation: C1-C6 joins, F1-F4 set ops, D6 metrics.

The reference resolves tables→models with per-row Python dict fallbacks
(/root/reference/utils/dbt_mapper.py:263-300) and computes coverage with
driver-side set algebra (utils/models.py:303-372). The catalog dims are
small and the driver already holds them (``catalog_frames`` builds them as
local relations, so collecting them starts no Spark job), so they enter the
plan as literals. C1 runs once, in ``resolve_models``: the best model per
lookup key is picked on the driver, and each (pattern, table) row resolves
by a lookup in one map literal, a narrow projection with no join, window
or shuffle. Every other report (C2-C5, F4, D6, and the recommender) is a
small plan over that one resolved relation. C5 tests each unmapped table
against a driver-built set of source names; C6 walks the dbt DAG on the
driver and joins the closure back as a broadcast dim.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from querysight_spark.schemas import DBT_EDGES_SCHEMA
from querysight_spark.sources.catalog import local_frame


def _json_literal(value, ddl: str) -> Column:
    """A driver-held map or list as ONE literal: a JSON string that
    ``from_json`` parses and Catalyst constant-folds. Building it is one
    py4j call; a ``create_map``/``isin`` of per-element ``F.lit``s costs one
    call per element."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


def _candidate_keys(tname_col) -> list[Column]:
    """Lookup-key candidates for a table ref, in priority order (C1):
    exact ref (lowercased), bare table name, schema.table (last two
    parts). The last two are NULL for a ref without a dot. Mirrors the
    fallback chain at utils/dbt_mapper.py:263-300 as data instead of
    control flow."""
    low = F.lower(tname_col)
    parts = F.split(low, r"\.")
    dotted = F.size(parts) >= 2
    bare = F.element_at(parts, -1)
    schema_table = F.concat_ws(".", F.element_at(parts, -2), bare)
    return [low, F.when(dotted, bare), F.when(dotted, schema_table)]


def _best_model_per_key(model_map: DataFrame) -> dict[str, str]:
    """table_key → model_name of its smallest (match_rank, model_name).
    Rows without a key or a model can never resolve a table and are
    skipped."""
    best: dict[str, tuple[int, str]] = {}
    for key, model, rank in model_map.select(
        "table_key", "model_name", "match_rank"
    ).collect():
        if key is not None and model is not None:
            best[key] = min(best.get(key, (rank, model)), (rank, model))
    return {key: model for key, (_, model) in best.items()}


def resolve_models(patterns: DataFrame, model_map: DataFrame) -> DataFrame:
    """C1 over every distinct non-empty table of every pattern.

    The best model per ``table_key`` is chosen on the driver (lowest
    ``match_rank``, then smallest ``model_name``) and enters the plan as
    one map literal; each table takes the first candidate key that hits
    it (exact > bare > schema.table). Building the frame starts no Spark
    job when ``model_map`` is a local relation. Spark scans a map
    literal's keys linearly, so this beats a broadcast join up to ~10³
    models (SCALE.md, Joins).

    Returns (pattern_id, tname, model_name) with model_name NULL when the
    table resolves to nothing (unmapped tables stay visible for C4). This
    is the one resolved relation every coverage and recommendation report
    reads."""
    lookup = _json_literal(_best_model_per_key(model_map), "map<string,string>")
    tname = F.col("tname")
    return (
        patterns.select(
            "pattern_id",
            F.explode(F.array_distinct("tables_accessed")).alias("tname"),
        )
        .where(tname != "")
        .select(
            "pattern_id",
            "tname",
            F.coalesce(*[lookup[k] for k in _candidate_keys(tname)]).alias(
                "model_name"
            ),
        )
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


def _source_names(sources: DataFrame) -> list[str]:
    """Every lowercased ``physical_table`` and every suffix of it that
    starts right after a ``.``: exactly the table names C5 counts as
    covered. Spark does the lowercasing, so it matches ``F.lower`` on the
    executor side."""
    names: set[str] = set()
    for (phys,) in sources.select(F.lower("physical_table")).collect():
        if phys is not None:
            names.add(phys)
            names.update(phys[i + 1:] for i, c in enumerate(phys) if c == ".")
    return sorted(names)


def uncovered_tables(resolved: DataFrame, sources: DataFrame) -> DataFrame:
    """C4 anti-join + C5 suffix match: tables resolving to no model AND
    matching no declared dbt source (utils/models.py:344-354).

    The source match is the reference's ``physical == t OR physical
    endswith '.'+t`` (utils/models.py:346-351). That holds exactly when
    ``lower(t)`` is in ``_source_names``, so the test is one
    ``array_contains`` against a driver-built literal: no nested-loop
    join, and no Spark job to build it when ``sources`` is a local
    relation."""
    covered = _json_literal(_source_names(sources), "array<string>")
    return (
        resolved.where(F.col("model_name").isNull())
        .select("tname")
        .distinct()
        .where(~F.array_contains(covered, F.lower("tname")))
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
    """D6: one-row coverage summary (utils/models.py:356-368). The model
    count comes from the driver-held dim; only the used count is a Spark
    aggregate."""
    total = len({m for (m,) in model_map.select("model_name").collect()})
    used_ct = F.col("used_models")
    return used.agg(F.count("*").alias("used_models")).select(
        F.lit(total).cast("long").alias("total_models"),
        used_ct,
        (
            F.when(F.lit(total) > 0, used_ct * 100.0 / F.lit(total))
            .otherwise(F.lit(0.0))
            .alias("coverage_pct")
        ),
        (F.lit(total) - used_ct).alias("unused_models"),
    )
