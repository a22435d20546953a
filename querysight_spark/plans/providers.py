"""H2 provider seam: recommendation generation behind one interface.

The reference calls litellm per pattern inside the pipeline
(/root/reference/utils/ai_suggester.py:208-282) — non-deterministic,
networked, untestable (SURVEY §7.4.6). Here the pipeline depends only on
``Recommender``; the default is the deterministic rule cascade
(plans.recommend), and an LLM-backed provider plugs in the same seam by
supplying a completion callable — prompts are built as columns, the
callable runs over a bounded top-K collected batch (K patterns, not the
fact table), and responses parse back through parse_llm_response.

No network code lives in this repo; ``LLMRecommender`` without a callable
raises immediately rather than pretending.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from querysight_spark.plans.coverage import resolve_models
from querysight_spark.plans.recommend import (
    HIGH_FREQUENCY,
    LONG_RUNNING_MS,
    _is_system,
    parse_llm_response,
    recommendations,
    with_pattern_types,
    with_table_classes,
)


class Recommender(Protocol):
    def recommend(self, patterns: DataFrame, model_map: DataFrame) -> DataFrame: ...


def openai_compatible_complete(
    base_url: str,
    model: str,
    api_key: str | None = None,
    temperature: float = 0.0,
    max_tokens: int = 512,
    timeout_s: float = 30.0,
) -> Callable[[str], str]:
    """Build a completion callable for any OpenAI-compatible
    ``/chat/completions`` endpoint (the de-facto public protocol most
    hosted and self-hosted inference servers speak) — the concrete provider
    the reference reaches via litellm (utils/ai_suggester.py:224-282).

    Deliberately explicit: the endpoint, model, and key are ARGUMENTS —
    nothing is read from the environment, no endpoint is hardcoded, and
    the engine never constructs one of these unless the user asks
    (``RuleBasedRecommender`` stays the default). stdlib urllib only; the
    returned callable is driver-side, matching ``LLMRecommender``'s
    bounded top-k batch."""
    import json
    import urllib.request

    url = base_url.rstrip("/") + "/chat/completions"

    def complete(prompt: str) -> str:
        body = json.dumps(
            {
                "model": model,
                "messages": [{"role": "user", "content": prompt}],
                "temperature": temperature,
                "max_tokens": max_tokens,
            }
        ).encode()
        headers = {"Content-Type": "application/json"}
        if api_key:
            headers["Authorization"] = f"Bearer {api_key}"
        req = urllib.request.Request(url, data=body, headers=headers)
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            payload = json.loads(resp.read().decode())
        return payload["choices"][0]["message"]["content"]

    return complete


def messages_api_complete(
    base_url: str,
    model: str,
    api_key: str | None = None,
    api_key_header: str = "x-api-key",
    version: str | None = None,
    version_header: str = "x-api-version",
    temperature: float = 0.0,
    max_tokens: int = 512,
    timeout_s: float = 30.0,
) -> Callable[[str], str]:
    """Build a completion callable for the OTHER widely-published LLM
    protocol shape: a ``/v1/messages`` endpoint taking
    ``{model, max_tokens, messages:[{role,content}]}`` and answering
    ``{content: [{type: "text", text: ...}]}``, with the key in a named
    header (default ``x-api-key``) and an optional dated version header
    whose NAME is itself an explicit argument (``version_header``,
    neutral default ``x-api-version``).

    **BREAKING (round 7):** earlier releases sent the version value
    under a hardcoded vendor-specific header name; the name is now
    caller-supplied and the default is the NEUTRAL ``x-api-version``.
    A caller that passes ``version=`` against a hosted endpoint that
    expects its own published dated-header name MUST now also pass
    ``version_header="<that provider's header name>"`` — otherwise the
    endpoint sees an unknown header and can answer 400
    missing-version. Hosted deployments of this
    protocol shape each publish their own dated header name, and keeping
    it caller-supplied keeps the engine free of any vendor literal.
    Together with ``openai_compatible_complete`` this covers the
    two request/response schemas the reference reaches through litellm
    (utils/ai_suggester.py:224-282) — the provider STRING routing
    litellm adds on top is ``with_retries``'s fallback chain here.

    Same discipline as the OpenAI-shape builder: endpoint/model/key are
    explicit arguments, nothing read from the environment, stdlib urllib
    only, driver-side over the bounded top-k batch."""
    import json
    import urllib.request

    url = base_url.rstrip("/") + "/v1/messages"

    def complete(prompt: str) -> str:
        body = json.dumps(
            {
                "model": model,
                "max_tokens": max_tokens,
                "temperature": temperature,
                "messages": [{"role": "user", "content": prompt}],
            }
        ).encode()
        headers = {"Content-Type": "application/json"}
        if api_key:
            headers[api_key_header] = api_key
        if version:
            headers[version_header] = version
        req = urllib.request.Request(url, data=body, headers=headers)
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            payload = json.loads(resp.read().decode())
        parts = payload.get("content") or []
        return "".join(
            p.get("text", "") for p in parts if p.get("type") == "text"
        )

    return complete


def azure_openai_complete(
    base_url: str,
    deployment: str,
    api_version: str,
    api_key: str | None = None,
    temperature: float = 0.0,
    max_tokens: int = 512,
    timeout_s: float = 30.0,
) -> Callable[[str], str]:
    """Build a completion callable for the Azure-hosted OpenAI protocol
    variant (the third widely-published shape litellm routes to,
    utils/ai_suggester.py:224-282): the SAME chat-completions
    request/response schema as ``openai_compatible_complete`` but the
    model is addressed as a DEPLOYMENT in the path
    (``/openai/deployments/{name}/chat/completions``), the API version is
    a required query parameter, and the key travels in an ``api-key``
    header instead of a Bearer token.

    Same discipline as the other builders: resource URL, deployment,
    version, and key are explicit arguments — nothing read from the
    environment, stdlib urllib only, driver-side over the bounded
    top-k batch."""
    import json
    import urllib.parse
    import urllib.request

    url = (
        base_url.rstrip("/")
        + f"/openai/deployments/{urllib.parse.quote(deployment)}"
        + "/chat/completions?api-version="
        + urllib.parse.quote(api_version)
    )

    def complete(prompt: str) -> str:
        body = json.dumps(
            {
                "messages": [{"role": "user", "content": prompt}],
                "temperature": temperature,
                "max_tokens": max_tokens,
            }
        ).encode()
        headers = {"Content-Type": "application/json"}
        if api_key:
            headers["api-key"] = api_key
        req = urllib.request.Request(url, data=body, headers=headers)
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            payload = json.loads(resp.read().decode())
        return payload["choices"][0]["message"]["content"]

    return complete


def completion_for(
    spec: str,
    base_url: str,
    api_key: str | None = None,
    api_version: str | None = None,
    **opts,
) -> Callable[[str], str]:
    """litellm-style ``provider/model`` string routing over the explicit
    builders — the last piece of the reference's provider surface
    (utils/ai_suggester.py:224-282 accepts any litellm provider string):

    - ``openai/<model>`` (or any OpenAI-compatible server) →
      ``openai_compatible_complete``
    - ``azure/<deployment>`` → ``azure_openai_complete`` (``api_version``
      required)
    - ``anthropic/<model>`` → ``messages_api_complete`` (``api_version``
      becomes the dated version header)

    Unlike litellm there is NO default endpoint per provider —
    ``base_url`` stays a required argument so the engine never phones a
    hardcoded host (the env-clean discipline); the router only picks the
    request/response schema. Extra keyword options pass through to the
    builder; compose with ``with_retries`` for fallback chains."""
    if "/" not in spec:
        raise ValueError(
            f"provider spec must be 'provider/model', got {spec!r}"
        )
    provider, model = spec.split("/", 1)
    if provider == "openai":
        return openai_compatible_complete(
            base_url, model, api_key=api_key, **opts
        )
    if provider == "azure":
        if not api_version:
            raise ValueError("azure/<deployment> requires api_version")
        return azure_openai_complete(
            base_url, model, api_version, api_key=api_key, **opts
        )
    if provider == "anthropic":
        return messages_api_complete(
            base_url, model, api_key=api_key, version=api_version, **opts
        )
    raise ValueError(
        f"unknown provider {provider!r}; expected openai|azure|anthropic"
    )


def with_retries(
    primary: Callable[[str], str],
    fallbacks: tuple[Callable[[str], str], ...] = (),
    retries: int = 2,
    backoff_s: float = 0.25,
) -> Callable[[str], str]:
    """Operational wrapper matching what litellm adds around providers:
    each callable is tried ``retries + 1`` times with exponential
    backoff, then the next fallback provider takes over — so a flaky or
    down endpoint degrades to the next provider instead of failing the
    page. Raises the LAST error only when every provider is exhausted.
    Pure composition over completion callables, so the whole chain is
    testable with canned functions — no provider-string registry to
    mock."""
    import time

    chain = (primary, *fallbacks)

    def complete(prompt: str) -> str:
        last: Exception | None = None
        for fn in chain:
            for attempt in range(retries + 1):
                try:
                    return fn(prompt)
                except Exception as e:  # noqa: BLE001 — provider errors vary
                    last = e
                    if attempt < retries:
                        time.sleep(backoff_s * (2**attempt))
        raise last  # type: ignore[misc]

    return complete


class RuleBasedRecommender:
    """Default: the deterministic rule cascade (H2's testable stand-in)."""

    def recommend(self, patterns: DataFrame, model_map: DataFrame) -> DataFrame:
        return recommendations(patterns, resolve_models(patterns, model_map))


class LLMRecommender:
    """LLM-backed provider. ``complete`` maps a prompt string to the model's
    response text (the caller owns auth/retries/model choice). Top-K
    patterns by impact are collected (bounded driver work — mirrors the
    reference, which iterates patterns serially), completed, and parsed
    into the same structured output columns.

    The prompt carries the reference's full H4 context
    (utils/ai_suggester.py:56-206): a JSON block with per-table schemas
    (A3, via the optional ``describe`` hook — the analog of the
    reference's live DESCRIBE per referenced table), G10 pattern-type
    tags, B8 user/system table classification, performance + usage
    metrics with the high-frequency / long-running flags, and a dbt
    coverage section (mapped models, unmapped tables, coverage ratio)
    computed with the same C1 resolution join the rule cascade uses.
    Everything except the bounded top-k collect and the per-table
    ``describe`` calls is column work."""

    def __init__(
        self,
        complete: Callable[[str], str] | None = None,
        top_k: int = 20,
        describe: Callable[[str], list[tuple[str, str]]] | None = None,
    ):
        if complete is None:
            raise ValueError(
                "LLMRecommender needs a completion callable; use "
                "RuleBasedRecommender for the deterministic default"
            )
        self.complete = complete
        self.top_k = top_k
        # table name -> [(col_name, data_type)], e.g. built from A3
        # sources.catalog.get_table_schema; None -> schemas omitted
        self.describe = describe

    def _schemas(self, tables: list[str]) -> dict:
        out = {}
        for t in tables:
            if self.describe is None:
                continue
            try:
                cols = self.describe(t)
            except Exception:
                continue  # reference logs + skips unreachable tables too
            out[t] = {
                "columns": [{"name": c, "type": ty} for c, ty in cols],
                "column_count": len(cols),
                "data_types": sorted({ty for _c, ty in cols}),
            }
        return out

    def _prompt(self, row) -> str:
        # H4 prompt-context analog (utils/ai_suggester.py:56-206)
        import json

        d = row.asDict()
        user_tables = list(d.get("user_tables") or [])
        system_tables = list(d.get("system_tables") or [])
        mapped_models = list(d.get("dbt_models_used") or [])
        unmapped = list(d.get("unmapped_tables") or [])
        freq = d.get("frequency") or 0
        dur = d.get("avg_duration_ms") or 0.0
        mem_mb = (d.get("memory_usage") or 0) / (1024 * 1024)
        first_seen = d.get("first_seen")
        last_seen = d.get("last_seen")
        context = {
            "accessed_table_schemas": self._schemas(user_tables),
            "query_analysis": {
                "pattern_types": list(d.get("pattern_types") or []),
                "table_classification": {
                    "user_tables": user_tables,
                    "system_tables": system_tables,
                    "has_system_joins": bool(system_tables),
                },
                "performance_metrics": {
                    "frequency": freq,
                    "avg_duration_ms": dur,
                    "memory_usage_mb": round(mem_mb, 2),
                    "total_read_rows": d.get("total_read_rows"),
                    "total_read_bytes": d.get("total_read_bytes"),
                },
                "usage_patterns": {
                    "is_high_frequency": freq > HIGH_FREQUENCY,
                    "is_long_running": dur > LONG_RUNNING_MS,
                    "first_seen": first_seen.isoformat() if first_seen else None,
                    "last_seen": last_seen.isoformat() if last_seen else None,
                    "users": list(d.get("users") or []),
                },
                "sql_pattern": d.get("sql_pattern"),
            },
            "dbt_context": {
                "mapped_models": mapped_models,
                "unmapped_tables": unmapped,
                "total_user_tables": len(user_tables),
                "mapping_coverage": (
                    len(mapped_models) / len(user_tables) if user_tables else 0
                ),
            },
        }
        return (
            "## QUERY PATTERN ANALYSIS REQUEST\n\n"
            "Analyze the following query pattern and provide optimization "
            "recommendations.\n\n"
            f"```json\n{json.dumps(context, indent=2)}\n```\n\n"
            "IMPORTANT: System tables (system.*, information_schema.*, "
            "pg_catalog.*) are part of the database engine and MUST NOT be "
            "targets for dbt modeling or optimization. Focus only on user "
            "tables. If there are unmapped user tables with known schema, "
            "prioritize creating a new dbt model for them.\n\n"
            "## RESPONSE FORMAT\nType: [INDEX|REWRITE_QUERY|NEW_DBT_MODEL|NEW_DBT_MACRO]\n"
            "Description: ...\nImpact: [HIGH|MEDIUM|LOW]\nSQL: ..."
        )

    def _enrich(self, patterns: DataFrame, resolved: DataFrame) -> DataFrame:
        """Column-built prompt context: G10 tags, B8 classification, and the
        C1-resolved mapped/unmapped split of the user tables, attached per
        pattern."""
        pats = with_pattern_types(with_table_classes(patterns))
        cov = (
            resolved.where(~_is_system(F.col("tname")))
            .groupBy("pattern_id")
            .agg(
                F.sort_array(
                    F.collect_set(F.when(F.col("model_name").isNotNull(), F.col("model_name")))
                ).alias("dbt_models_used"),
                F.sort_array(
                    F.collect_set(F.when(F.col("model_name").isNull(), F.col("tname")))
                ).alias("unmapped_tables"),
            )
        )
        return pats.join(cov, "pattern_id", "left")

    def recommend(self, patterns: DataFrame, model_map: DataFrame) -> DataFrame:
        spark = patterns.sparkSession
        # rank + limit FIRST (the impact key needs no enrichment columns),
        # then resolve and enrich only the top_k-row frame — the
        # enrichment cost is page-sized, not corpus-sized
        top_patterns = patterns.orderBy(
            (F.col("frequency") * F.col("avg_duration_ms")).desc(), "pattern_id"
        ).limit(self.top_k)
        top = (
            self._enrich(top_patterns, resolve_models(top_patterns, model_map))
            .orderBy(
                (F.col("frequency") * F.col("avg_duration_ms")).desc(), "pattern_id"
            )
            .collect()
        )
        rows = [(r.pattern_id, r.normalized_query, self.complete(self._prompt(r)))
                for r in top]
        raw = spark.createDataFrame(
            rows, "pattern_id string, normalized_query string, response string"
        )
        return parse_llm_response(raw).select(
            "pattern_id",
            "normalized_query",
            F.col("parsed.rec_type").alias("rec_type"),
            F.col("parsed.impact").alias("impact"),
            F.col("parsed.description").alias("description"),
            F.col("parsed.sql").alias("suggested_sql"),
        )
