"""Rule-based recommender (plans.recommend): rule precedence, table
classification, keyword tags — the taxonomy/heuristics from
/root/reference/utils/ai_suggester.py:36-206 made deterministic."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from querysight_spark.plans.coverage import resolve_models
from querysight_spark.plans.recommend import (
    recommendations,
    with_pattern_types,
    with_table_classes,
)
from querysight_spark.schemas import DBT_MODEL_MAP_SCHEMA

_TS = dt.datetime(2024, 1, 5)


def _patterns(spark, rows):
    """rows: (pattern_id, normalized_query, sql_pattern, frequency,
    avg_duration_ms, tables_accessed)"""
    cols = [
        "pattern_id",
        "normalized_query",
        "sql_pattern",
        "frequency",
        "avg_duration_ms",
        "tables_accessed",
    ]
    df = spark.createDataFrame(
        [tuple(r) for r in rows],
        "pattern_id string, normalized_query string, sql_pattern string, "
        "frequency long, avg_duration_ms double, tables_accessed array<string>",
    )
    return df.select(cols)


@pytest.fixture(scope="module")
def model_map(spark):
    rows = [("orders", "stg_orders", "main", "table", 0),
            ("main.orders", "stg_orders", "main", "table", 1)]
    return spark.createDataFrame(rows, schema=DBT_MODEL_MAP_SCHEMA)


def test_table_classification(spark):
    p = _patterns(
        spark,
        [("p1", "n1", "SELECT 1", 1, 1.0,
          ["system.query_log", "information_schema.tables", "orders", "PG_CATALOG.x"])],
    )
    row = with_table_classes(p).select("system_tables", "user_tables").first()
    assert row.system_tables == ["system.query_log", "information_schema.tables",
                                 "PG_CATALOG.x"]
    assert row.user_tables == ["orders"]


def test_pattern_types_tags(spark):
    p = _patterns(
        spark,
        [
            ("p1", "n1", "SELECT a FROM t JOIN u ON 1=1 WHERE x GROUP BY a ORDER BY a",
             1, 1.0, ["t"]),
            ("p2", "n2", "SELECT 1", 1, 1.0, ["t"]),
        ],
    )
    out = {r.pattern_id: r.pattern_types
           for r in with_pattern_types(p).collect()}
    assert out["p1"] == ["Aggregation", "Filter", "Join", "Sorting"]
    assert out["p2"] == ["Simple Select"]


def test_rule_precedence(spark, model_map):
    p = _patterns(
        spark,
        [
            # unmapped table wins even when long-running → NEW_DBT_MODEL HIGH
            ("p1", "n1", "SELECT * FROM unknown_t", 5, 5000.0, ["unknown_t"]),
            # unmapped, cold → MEDIUM
            ("p2", "n2", "SELECT * FROM unknown_t", 5, 50.0, ["unknown_t"]),
            # mapped + long-running + join → REWRITE_QUERY HIGH
            ("p3", "n3", "SELECT * FROM orders JOIN orders", 5, 5000.0, ["orders"]),
            # mapped + long-running, no join → INDEX; freq<=100 → MEDIUM
            ("p4", "n4", "SELECT * FROM orders WHERE 1", 5, 5000.0, ["orders"]),
            # mapped + long-running + high-frequency → INDEX HIGH
            ("p5", "n5", "SELECT * FROM orders WHERE 1", 500, 5000.0, ["orders"]),
            # mapped, fast, high-frequency → NEW_DBT_MACRO MEDIUM
            ("p6", "n6", "SELECT * FROM orders", 500, 10.0, ["orders"]),
            # mapped, fast, low-frequency → no recommendation
            ("p7", "n7", "SELECT * FROM orders", 5, 10.0, ["orders"]),
            # system-only pattern → skipped entirely
            ("p8", "n8", "SELECT * FROM system.query_log", 500, 5000.0,
             ["system.query_log"]),
        ],
    )
    recs = {r.pattern_id: r for r in recommendations(p, resolve_models(p, model_map)).collect()}
    assert set(recs) == {"p1", "p2", "p3", "p4", "p5", "p6"}
    assert (recs["p1"].rec_type, recs["p1"].impact) == ("NEW_DBT_MODEL", "HIGH")
    assert recs["p1"].unmapped_tables == ["unknown_t"]
    assert (recs["p2"].rec_type, recs["p2"].impact) == ("NEW_DBT_MODEL", "MEDIUM")
    assert (recs["p3"].rec_type, recs["p3"].impact) == ("REWRITE_QUERY", "HIGH")
    assert (recs["p4"].rec_type, recs["p4"].impact) == ("INDEX", "MEDIUM")
    assert (recs["p5"].rec_type, recs["p5"].impact) == ("INDEX", "HIGH")
    assert (recs["p6"].rec_type, recs["p6"].impact) == ("NEW_DBT_MACRO", "MEDIUM")
    assert "unknown_t" in recs["p1"].description


def test_parse_llm_response(spark):
    from querysight_spark.plans.recommend import parse_llm_response

    resp = """Here is my recommendation.

**Type:** [NEW_DBT_MODEL]
Description: Create a staging model for raw_events
**Impact:** HIGH

```sql
SELECT * FROM raw_events
WHERE loaded_at > '2024-01-01'
```
Implementation: run dbt."""
    df = spark.createDataFrame([("p1", resp), ("p2", "no structure at all")],
                               "pattern_id string, response string")
    out = {r.pattern_id: r.parsed for r in parse_llm_response(df).collect()}
    p1 = out["p1"]
    assert p1.rec_type == "NEW_DBT_MODEL"
    assert p1.description == "Create a staging model for raw_events"
    assert p1.impact == "HIGH"
    assert p1.sql == "SELECT * FROM raw_events\nWHERE loaded_at > '2024-01-01'"
    p2 = out["p2"]
    assert p2.rec_type is None and p2.sql is None


def test_provider_seam(spark, model_map):
    from querysight_spark.plans.providers import LLMRecommender, RuleBasedRecommender

    p = _patterns(
        spark,
        [("p1", "n1", "SELECT * FROM unknown_t", 5, 5000.0, ["unknown_t"])],
    )
    rule = RuleBasedRecommender().recommend(p, model_map).first()
    assert rule.rec_type == "NEW_DBT_MODEL"

    def fake_complete(prompt):
        assert "RESPONSE FORMAT" in prompt
        return "Type: [REWRITE_QUERY]\nDescription: use a CTE\nImpact: [LOW]\n```sql\nSELECT 1\n```"

    llm = LLMRecommender(complete=fake_complete).recommend(p, model_map).first()
    assert (llm.rec_type, llm.impact, llm.suggested_sql) == (
        "REWRITE_QUERY", "LOW", "SELECT 1",
    )

    with pytest.raises(ValueError):
        LLMRecommender()


def test_junction_reconstruction(spark):
    from querysight_spark.plans.report import to_junction_tables

    pats = spark.createDataFrame(
        [("p1", ["alice", "bob"], ["t1"], ["m1", "m2"])],
        "pattern_id string, users array<string>, tables_accessed array<string>, "
        "dbt_models_used array<string>",
    )
    j = to_junction_tables(pats)
    assert sorted(r.user for r in j["pattern_users"].collect()) == ["alice", "bob"]
    assert [r.table_name for r in j["pattern_tables"].collect()] == ["t1"]
    assert sorted(r.model_name for r in j["pattern_dbt_models"].collect()) == ["m1", "m2"]


def test_get_table_schema(spark):
    from querysight_spark.sources.catalog import get_table_schema

    df = spark.createDataFrame([(1, "a", [1.0])], "id long, name string, xs array<double>")
    rows = {r.col_name: (r.data_type, r.nullable) for r in get_table_schema(df).collect()}
    assert rows == {
        "id": ("bigint", True),
        "name": ("string", True),
        "xs": ("array<double>", True),
    }


def test_system_tables_never_reported_unmapped(spark, model_map):
    p = _patterns(
        spark,
        [("p1", "n1", "SELECT * FROM system.query_log JOIN orders", 500, 5000.0,
          ["system.query_log", "orders"])],
    )
    rec = recommendations(p, resolve_models(p, model_map)).first()
    # orders is mapped, system.* excluded → no unmapped → falls to REWRITE_QUERY
    assert rec.rec_type == "REWRITE_QUERY"
    assert rec.unmapped_tables == []


def test_openai_compatible_provider_round_trip(spark, model_map):
    """Drive LLMRecommender through openai_compatible_complete against a
    local canned-response HTTP server: real request body, auth header,
    response decode, and H3 parsing — no external network."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from querysight_spark.plans.providers import (
        LLMRecommender,
        openai_compatible_complete,
    )

    seen = {}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            seen["path"] = self.path
            seen["auth"] = self.headers.get("Authorization")
            seen["model"] = body["model"]
            seen["prompt"] = body["messages"][0]["content"]
            content = (
                "Type: [INDEX]\nDescription: add an index\n"
                "Impact: [MEDIUM]\n```sql\nCREATE INDEX i ON t(x)\n```"
            )
            out = json.dumps(
                {"choices": [{"message": {"role": "assistant", "content": content}}]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):  # keep pytest output clean
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        complete = openai_compatible_complete(
            base_url=f"http://127.0.0.1:{server.server_port}/v1",
            model="test-model",
            api_key="sk-canned",
        )
        p = _patterns(
            spark,
            [("p1", "n1", "SELECT * FROM unknown_t", 5, 5000.0, ["unknown_t"])],
        )
        rec = LLMRecommender(complete=complete).recommend(p, model_map).first()
    finally:
        server.shutdown()
        server.server_close()

    assert seen["path"] == "/v1/chat/completions"
    assert seen["auth"] == "Bearer sk-canned"
    assert seen["model"] == "test-model"
    assert "RESPONSE FORMAT" in seen["prompt"]
    assert (rec.rec_type, rec.impact, rec.suggested_sql) == (
        "INDEX", "MEDIUM", "CREATE INDEX i ON t(x)",
    )


def test_llm_prompt_context_h4_parity(spark, model_map):
    """VERDICT r2 item 6: the prompt must carry the reference's full H4
    context (utils/ai_suggester.py:56-206) — table schemas via the A3
    describe hook, G10 pattern types, B8 user/system classification,
    performance + usage flags, and the dbt mapped/unmapped coverage
    section — as a parseable JSON block."""
    import json
    import re

    from querysight_spark.plans.providers import LLMRecommender

    p = _patterns(
        spark,
        [("p1", "n1",
          "SELECT * FROM orders JOIN unknown_t GROUP BY 1 ORDER BY 1",
          500, 5000.0, ["orders", "unknown_t", "system.query_log"])],
    )
    prompts = []

    def fake_complete(prompt):
        prompts.append(prompt)
        return "Type: [INDEX]\nDescription: d\nImpact: [LOW]"

    def describe(table):
        assert table in ("orders", "unknown_t")  # never system tables
        return [("id", "bigint"), ("amount", "double")]

    rec = LLMRecommender(complete=fake_complete, describe=describe).recommend(
        p, model_map
    ).first()
    assert rec.rec_type == "INDEX"

    ctx = json.loads(re.search(r"```json\n(.*?)\n```", prompts[0], re.S).group(1))
    qa = ctx["query_analysis"]
    assert set(qa["pattern_types"]) >= {"Aggregation", "Join", "Sorting"}
    assert qa["table_classification"]["user_tables"] == ["orders", "unknown_t"]
    assert qa["table_classification"]["system_tables"] == ["system.query_log"]
    assert qa["table_classification"]["has_system_joins"] is True
    assert qa["performance_metrics"]["frequency"] == 500
    assert qa["usage_patterns"]["is_high_frequency"] is True
    assert qa["usage_patterns"]["is_long_running"] is True
    assert ctx["dbt_context"]["mapped_models"] == ["stg_orders"]
    assert ctx["dbt_context"]["unmapped_tables"] == ["unknown_t"]
    assert ctx["dbt_context"]["total_user_tables"] == 2
    assert ctx["dbt_context"]["mapping_coverage"] == 0.5
    schemas = ctx["accessed_table_schemas"]
    assert schemas["orders"]["column_count"] == 2
    assert schemas["orders"]["data_types"] == ["bigint", "double"]
    assert "System tables" in prompts[0] and "RESPONSE FORMAT" in prompts[0]


def test_messages_api_provider_round_trip(spark, model_map):
    """Drive LLMRecommender through messages_api_complete against a
    local canned /v1/messages server: request schema, key header,
    version header, multi-part text response decode, and H3 parsing."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from querysight_spark.plans.providers import (
        LLMRecommender,
        messages_api_complete,
    )

    seen = {}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            seen["path"] = self.path
            seen["key"] = self.headers.get("x-api-key")
            seen["version"] = self.headers.get("x-dated-version")
            seen["model"] = body["model"]
            seen["max_tokens"] = body["max_tokens"]
            content = (
                "Type: [REWRITE_QUERY]\nDescription: rewrite it\n"
                "Impact: [HIGH]\n```sql\nSELECT 1\n```"
            )
            out = json.dumps(
                {
                    "content": [
                        {"type": "text", "text": content[: len(content) // 2]},
                        {"type": "tool_use", "id": "x", "name": "n", "input": {}},
                        {"type": "text", "text": content[len(content) // 2 :]},
                    ]
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        complete = messages_api_complete(
            f"http://127.0.0.1:{server.server_port}",
            model="m-test",
            api_key="k-123",
            version="2023-06-01",
            version_header="x-dated-version",
        )
        pats = _patterns(
            spark,
            [("p1", "n1", "SELECT * FROM unknown_t", 5, 5000.0, ["unknown_t"])],
        )
        out = LLMRecommender(complete=complete, top_k=1).recommend(
            pats, model_map
        ).collect()
    finally:
        server.shutdown()
        server.server_close()
    assert seen["path"] == "/v1/messages"
    assert seen["key"] == "k-123" and seen["version"] == "2023-06-01"
    assert seen["model"] == "m-test" and seen["max_tokens"] == 512
    assert len(out) == 1
    r = out[0]
    # text parts re-concatenate across the interleaved non-text block
    assert r.rec_type == "REWRITE_QUERY" and r.impact == "HIGH"
    assert r.suggested_sql.strip() == "SELECT 1"


def test_with_retries_backoff_and_fallback_chain():
    """The litellm-shaped operational wrapper: primary retried with
    backoff, then each fallback; the last error surfaces only when the
    whole chain is exhausted."""
    import pytest

    from querysight_spark.plans.providers import with_retries

    calls = []

    def flaky(prompt):
        calls.append("flaky")
        if len([c for c in calls if c == "flaky"]) < 3:
            raise OSError("transient")
        return "ok-primary:" + prompt

    assert (
        with_retries(flaky, retries=2, backoff_s=0.0)("p") == "ok-primary:p"
    )
    assert calls.count("flaky") == 3  # 2 failures + 1 success

    def down(prompt):
        calls.append("down")
        raise OSError("refused")

    def backup(prompt):
        calls.append("backup")
        return "ok-backup"

    calls.clear()
    assert with_retries(down, (backup,), retries=1, backoff_s=0.0)("p") == "ok-backup"
    assert calls == ["down", "down", "backup"]

    calls.clear()
    with pytest.raises(OSError, match="refused"):
        with_retries(down, (down,), retries=0, backoff_s=0.0)("p")


def test_azure_openai_provider_round_trip():
    """azure_openai_complete: deployment-in-path URL, api-version query
    parameter, api-key header, OpenAI response schema decode — against a
    local canned server."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from querysight_spark.plans.providers import azure_openai_complete

    seen = {}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            seen["path"] = self.path
            seen["key"] = self.headers.get("api-key")
            seen["auth"] = self.headers.get("Authorization")
            seen["body_keys"] = sorted(body)
            out = json.dumps(
                {"choices": [{"message": {"role": "assistant", "content": "OK"}}]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        complete = azure_openai_complete(
            f"http://127.0.0.1:{server.server_port}",
            deployment="my gpt",
            api_version="2024-02-01",
            api_key="az-key",
        )
        assert complete("hi") == "OK"
    finally:
        server.shutdown()
        server.server_close()
    # deployment is path-quoted; version is a query param; key header, no Bearer
    assert seen["path"] == (
        "/openai/deployments/my%20gpt/chat/completions?api-version=2024-02-01"
    )
    assert seen["key"] == "az-key" and seen["auth"] is None
    # azure addresses the model via the deployment path — no model in body
    assert seen["body_keys"] == ["max_tokens", "messages", "temperature"]


def test_completion_for_provider_string_routing(monkeypatch):
    """completion_for: litellm-style provider/model strings dispatch to
    the matching builder with the right argument mapping; unknown
    providers and malformed specs fail loudly; base_url stays required
    (no hardcoded endpoints)."""
    import pytest

    from querysight_spark.plans import providers

    calls = {}

    def fake_openai(base_url, model, api_key=None, **kw):
        calls["openai"] = (base_url, model, api_key, kw)
        return lambda p: "o"

    def fake_azure(base_url, deployment, api_version, api_key=None, **kw):
        calls["azure"] = (base_url, deployment, api_version, api_key)
        return lambda p: "a"

    def fake_messages(base_url, model, api_key=None, version=None, **kw):
        calls["anthropic"] = (base_url, model, api_key, version)
        return lambda p: "m"

    monkeypatch.setattr(providers, "openai_compatible_complete", fake_openai)
    monkeypatch.setattr(providers, "azure_openai_complete", fake_azure)
    monkeypatch.setattr(providers, "messages_api_complete", fake_messages)

    assert providers.completion_for(
        "openai/gpt-test", "http://h", api_key="k", timeout_s=5.0
    )("p") == "o"
    assert calls["openai"] == ("http://h", "gpt-test", "k", {"timeout_s": 5.0})

    assert providers.completion_for(
        "azure/dep", "http://h", api_key="k", api_version="2024-02-01"
    )("p") == "a"
    assert calls["azure"] == ("http://h", "dep", "2024-02-01", "k")

    assert providers.completion_for(
        "anthropic/model-x/variant", "http://h", api_version="2023-06-01"
    )("p") == "m"
    # split on the FIRST slash only: model keeps its own slashes
    assert calls["anthropic"] == ("http://h", "model-x/variant", None, "2023-06-01")

    with pytest.raises(ValueError, match="api_version"):
        providers.completion_for("azure/dep", "http://h")
    with pytest.raises(ValueError, match="unknown provider"):
        providers.completion_for("other/m", "http://h")
    with pytest.raises(ValueError, match="provider/model"):
        providers.completion_for("bare-model", "http://h")
