"""CLI (python -m querysight_spark): analyze levels, export, generate-model
over real parquet logs and a real dbt project directory."""

from __future__ import annotations

import json
import os

import pytest

from querysight_spark.__main__ import main


@pytest.fixture()
def logs_dir(spark, query_log, tmp_path):
    p = str(tmp_path / "logs")
    query_log.write.mode("overwrite").parquet(p)
    return p


@pytest.fixture()
def dbt_dir(tmp_path):
    d = tmp_path / "dbtproj"
    d.mkdir()
    (d / "stg_orders.sql").write_text(
        "{{ config(materialized='view', schema='main') }}\n"
        "select * from {{ source('warehouse', 'orders') }}\n"
    )
    (d / "daily_sales.sql").write_text(
        "{{ config(materialized='table', schema='analytics') }}\n"
        "select * from {{ ref('stg_orders') }}\n"
    )
    (d / "schema.yml").write_text(
        "version: 2\n"
        "sources:\n"
        "  - name: warehouse\n"
        "    schema: main\n"
        "    tables:\n"
        "      - name: orders\n"
    )
    return str(d)


def test_analyze_levels(logs_dir, dbt_dir, capsys):
    rc = main([
        "analyze", "--logs", logs_dir, "--level", "pattern_analysis",
        "--min-frequency", "1", "--end-date", "2024-02-01", "--days", "60",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "total_queries" in out and "normalized_query" in out

    rc = main([
        "analyze", "--logs", logs_dir, "--dbt-project", dbt_dir,
        "--level", "optimization", "--min-frequency", "1",
        "--end-date", "2024-02-01", "--days", "60",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "coverage_pct" in out and "rec_type" in out


def test_missing_dbt_project_exits(logs_dir):
    with pytest.raises(SystemExit):
        main(["analyze", "--logs", logs_dir, "--level", "dbt_integration",
              "--end-date", "2024-02-01"])


def test_export_and_generate_model(logs_dir, dbt_dir, tmp_path):
    out = str(tmp_path / "exp")
    assert main(["export", "--logs", logs_dir, "--dbt-project", dbt_dir,
                 "--output", out]) == 0
    pat_files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(f"{out}/patterns") for f in fs if f.endswith(".json")
    ]
    rows = [json.loads(line) for p in pat_files for line in open(p)]
    assert rows and "normalized_query" in rows[0]

    gen = str(tmp_path / "gen")
    assert main(["generate-model", "--logs", logs_dir, "--dbt-project", dbt_dir,
                 "--output", gen, "--source-name", "warehouse"]) == 0
    files = sorted(os.listdir(gen))
    assert "schema.yml" in files
    # staging.raw_events is uncovered by the fixture project → model emitted
    assert any(f.startswith("stg_") and f.endswith(".sql") for f in files)

