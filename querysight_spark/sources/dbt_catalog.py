"""A8/A9 — dbt project catalog loaders → small dimension DataFrames.

Re-implements the reference's DBTModelMapper / DBTProjectAnalyzer readers
(/root/reference/utils/dbt_mapper.py:41-261, utils/dbt_analyzer.py:202-230):
``dbt_project.yml`` config, ``target/manifest.json``, ``**/*.yml`` source
declarations, ``**/*.sql`` model files, and the regex dependency scan over
``ref()``/``source()`` macros.

These are driver-side parses by design: a dbt project is a few thousand tiny
files — a dimension, not a fact table. The output DataFrames are local
relations (``sources.catalog.local_frame``), so the coverage plans collect
them without a Spark job and fold them into the plan as literals: even at
100 TB of log data the catalog never shuffles.

Lookup-key semantics (C1): the reference registers each model under several
keys and resolves a table ref by trying exact key → bare name → schema.table
(utils/dbt_mapper.py:263-300). We pre-explode the keys with a ``match_rank``
(lower wins), so resolution is one driver-side pick of the best model per
key plus a map lookup per table (``plans.coverage.resolve_models``) instead
of a per-row Python fallback chain.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from glob import glob

from pyspark.sql import DataFrame, SparkSession

from querysight_spark.schemas import (
    DBT_EDGES_SCHEMA,
    DBT_MODEL_MAP_SCHEMA,
    DBT_SOURCES_SCHEMA,
)
from querysight_spark.sources.catalog import local_frame

# {{ config(materialized='table', schema='x') }} (utils/dbt_analyzer.py:183-190)
_CONFIG_BLOCK = re.compile(r"\{\{\s*config\s*\((.*?)\)\s*\}\}", re.S)
_MATERIALIZED = re.compile(r"materialized\s*=\s*['\"](\w+)['\"]")
_SCHEMA_KW = re.compile(r"schema\s*=\s*['\"](\w+)['\"]")
# {{ ref('model') }} / {{ source('src','table') }} (utils/dbt_mapper.py:236-243)
_REF_MACRO = re.compile(r"\{\{\s*ref\s*\(\s*['\"]([^'\"]+)['\"]\s*\)\s*\}\}")
_SOURCE_MACRO = re.compile(
    r"\{\{\s*source\s*\(\s*['\"]([^'\"]+)['\"]\s*,\s*['\"]([^'\"]+)['\"]\s*\)\s*\}\}"
)


@dataclass
class DbtCatalog:
    """Parsed catalog: plain Python rows, ready for createDataFrame."""

    models: list[dict] = field(default_factory=list)  # name, schema, materialized
    sources: list[tuple[str, str]] = field(default_factory=list)  # (source_ref, physical)
    edges: list[tuple[str, str]] = field(default_factory=list)  # (model, depends_on)

    def model_map_rows(self) -> list[tuple[str, str, str | None, str | None, int]]:
        """Explode each model into its lookup-key variants with match ranks:
        rank 0 = bare model name, rank 1 = schema.name — mirroring the
        registration at utils/dbt_mapper.py:176,257-258 and the fallback
        order at utils/dbt_mapper.py:263-300."""
        rows = []
        for m in self.models:
            name = m["name"].lower()
            rows.append((name, m["name"], m.get("schema"), m.get("materialized"), 0))
            if m.get("schema"):
                rows.append(
                    (f"{m['schema'].lower()}.{name}", m["name"], m.get("schema"), m.get("materialized"), 1)
                )
        return rows


def parse_dbt_project(project_dir: str) -> DbtCatalog:
    """Parse a dbt project directory into a catalog. Prefers the compiled
    ``target/manifest.json`` (utils/dbt_mapper.py:79-92); falls back to
    globbing model SQL + source YAML files (utils/dbt_mapper.py:94-261)."""
    cat = DbtCatalog()
    manifest = os.path.join(project_dir, "target", "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            data = json.load(f)
        for node_id, node in data.get("nodes", {}).items():
            if node.get("resource_type") != "model":
                continue
            cat.models.append(
                {
                    "name": node["name"],
                    "schema": node.get("schema"),
                    "materialized": (node.get("config") or {}).get("materialized"),
                }
            )
            for dep in (node.get("depends_on") or {}).get("nodes", []):
                cat.edges.append((node["name"], dep.split(".")[-1]))
        for src_id, src in data.get("sources", {}).items():
            ref = f"{src['source_name']}.{src['name']}"
            physical = ".".join(p for p in [src.get("schema"), src.get("name")] if p)
            cat.sources.append((ref, physical))
        return cat

    default_schema = None
    proj_yml = os.path.join(project_dir, "dbt_project.yml")
    if os.path.exists(proj_yml):
        try:
            import yaml

            with open(proj_yml) as f:
                proj = yaml.safe_load(f) or {}
            default_schema = (proj.get("models") or {}).get("schema")
        except Exception:
            pass

    for path in sorted(glob(os.path.join(project_dir, "**", "*.sql"), recursive=True)):
        name = os.path.splitext(os.path.basename(path))[0]
        with open(path) as f:
            sql = f.read()
        schema, materialized = default_schema, None
        cfg = _CONFIG_BLOCK.search(sql)
        if cfg:
            m = _MATERIALIZED.search(cfg.group(1))
            materialized = m.group(1) if m else None
            s = _SCHEMA_KW.search(cfg.group(1))
            schema = s.group(1) if s else schema
        cat.models.append({"name": name, "schema": schema, "materialized": materialized})
        for ref in _REF_MACRO.findall(sql):
            cat.edges.append((name, ref))
        for src, tbl in _SOURCE_MACRO.findall(sql):
            cat.edges.append((name, f"{src}.{tbl}"))

    try:
        import yaml

        for path in sorted(glob(os.path.join(project_dir, "**", "*.yml"), recursive=True)):
            with open(path) as f:
                doc = yaml.safe_load(f) or {}
            for src in doc.get("sources", []) or []:
                src_name = src.get("name", "")
                src_schema = src.get("schema") or src_name
                db = src.get("database")
                for tbl in src.get("tables", []) or []:
                    tname = tbl.get("name", "")
                    physical = ".".join(p for p in [db, src_schema, tname] if p)
                    cat.sources.append((f"{src_name}.{tname}", physical))
    except Exception:
        pass
    return cat


def catalog_frames(
    spark: SparkSession, cat: DbtCatalog
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(model_map, sources, edges) DataFrames with explicit schemas —
    empty-safe so a project with no sources still yields typed frames."""
    model_map = local_frame(spark, cat.model_map_rows(), DBT_MODEL_MAP_SCHEMA)
    sources = local_frame(spark, cat.sources, DBT_SOURCES_SCHEMA)
    edges = local_frame(spark, cat.edges, DBT_EDGES_SCHEMA)
    return model_map, sources, edges
