"""Seeded input generator for the benchmark: pyarrow and numpy only, no Spark.

It writes every input the workloads read and computes every reference
answer from its own ground truth (template ids, table sets, catalog
membership, exact numpy top-k), never by calling the engine:

* a dbt project (``target/manifest.json``): staging models over declared
  sources, intermediate chains and marts, plus a tail of rarely used models;
* a raw-SQL query log: zipf-skewed templates with literals, comments,
  CTEs, joins, subqueries and dbt ``ref()``/``source()`` macros, written
  without ``normalized_query`` and with ``tables`` mostly empty;
* pre-normalized log files (``normalized_query`` and ``tables`` filled in,
  as ClickHouse provides them) that arrive one per streaming op;
* a clustered vector corpus with seeded query vectors and their exact
  cosine top-k.

A template's normalized text is built from its parts (literal slots become
``?``, comment and whitespace slots collapse), so the reference pattern key
is known by construction rather than re-derived with the engine's regexes.

The catalog and the template set are drawn from a fixed seed; ``--seed``
draws everything else (rows, literals, op parameters, vectors, queries), so
seeds vary the data without varying how much work an op does.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
EPOCH_US = int(EPOCH.timestamp()) * 1_000_000
DAY_US = 86_400_000_000
LOG_DAYS = 14
SLOW_MS = 1000.0
MEDIUM_MS = 100.0
STRUCTURE_SEED = 7

DOMAINS = {
    "raw_shop": ["orders", "customers", "products", "payments", "refunds"],
    "raw_crm": ["accounts", "contacts", "leads", "opportunities"],
    "raw_web": ["sessions", "pageviews", "clicks"],
    "raw_billing": ["invoices", "subscriptions", "plans"],
    "raw_ops": ["tickets", "incidents"],
}
# Referenced by queries, declared nowhere: the uncovered set.
UNCOVERED = [
    "legacy.orders_old", "scratch.tmp_revenue", "adhoc.export_users",
    "analytics.audit_log", "sandbox.churn_scores", "legacy.user_map",
]
SYSTEM = ["system.query_log", "system.parts", "information_schema.tables"]

_WORDS = (
    "alpha bravo cedar delta ember fjord glade harbor iris juniper kestrel "
    "lumen maple nova onyx pine quartz raven sierra tundra umber vale willow "
    "xenon yarrow zephyr"
).split()


def _word_id(i: int) -> str:
    """Digit-free identifier suffix: digits in identifiers would be masked
    by literal normalization only at word boundaries, so keep none."""
    a, b = divmod(i, len(_WORDS))
    return _WORDS[b] if a == 0 else f"{_WORDS[a % len(_WORDS)]}_{_WORDS[b]}"


# --------------------------------------------------------------------------
# dbt catalog


class Catalog:
    """Models, sources and the dependency DAG of a generated dbt project."""

    def __init__(self, rng: np.random.Generator, n_tail: int):
        self.sources = [(s, t) for s, ts in DOMAINS.items() for t in ts]
        self.models: dict[str, str] = {}  # name -> schema
        self.deps: dict[str, list[str]] = {}  # name -> node ids
        stg = []
        for s, t in self.sources:
            name = f"stg_{s[4:]}__{t}"
            self._add(name, "staging", [f"source.bench.{s}.{t}"])
            stg.append(name)
        # intermediate chains: each link depends on the previous one plus
        # one or two staging models, so the upstream closure has depth
        ints = []
        for c in range(6):
            prev = None
            for d in range(2):
                name = f"int_{_word_id(c)}_step_{_word_id(d)}"
                parents = list(rng.choice(stg, size=1 + d % 2, replace=False))
                if prev:
                    parents.append(prev)
                self._add(name, "intermediate", [f"model.bench.{p}" for p in parents])
                ints.append(name)
                prev = name
        marts = []
        for i, base in enumerate(
            ["orders", "revenue", "customers", "accounts", "sessions",
             "tickets", "invoices", "pipeline", "funnel", "retention"]
        ):
            kind = "dim" if i % 3 == 2 else "fct"
            name = f"{kind}_{base}"
            parents = list(rng.choice(ints, size=2, replace=False))
            self._add(name, "marts", [f"model.bench.{p}" for p in parents])
            marts.append(name)
        # a tail of models queries rarely or never touch (coverage < 100 %)
        for i in range(n_tail):
            name = f"tail_{_word_id(i)}"
            parents = list(rng.choice(stg + ints, size=1, replace=False))
            self._add(name, "archive", [f"model.bench.{p}" for p in parents])
        self.stg, self.ints, self.marts = stg, ints, marts

    def _add(self, name: str, schema: str, deps: list[str]) -> None:
        self.models[name] = schema
        self.deps[name] = deps

    def write_manifest(self, project_dir: str) -> None:
        nodes = {
            f"model.bench.{m}": {
                "resource_type": "model",
                "name": m,
                "schema": schema,
                "config": {"materialized": "table" if schema == "marts" else "view"},
                "depends_on": {"nodes": self.deps[m]},
            }
            for m, schema in self.models.items()
        }
        sources = {
            f"source.bench.{s}.{t}": {"source_name": s, "name": t, "schema": s}
            for s, t in self.sources
        }
        os.makedirs(os.path.join(project_dir, "target"), exist_ok=True)
        with open(os.path.join(project_dir, "target", "manifest.json"), "w") as f:
            json.dump({"nodes": nodes, "sources": sources}, f)

    def resolve(self, table: str) -> str | None:
        """Model a normalized table ref maps to (bare name or schema.name)."""
        parts = table.split(".")
        if parts[-1] in self.models and (
            len(parts) == 1 or self.models[parts[-1]] == parts[0]
        ):
            return parts[-1]
        return None

    def is_source(self, table: str) -> bool:
        return tuple(table.split(".")) in set(self.sources)


# --------------------------------------------------------------------------
# SQL templates


class Template:
    """A query shape as parts: ``("t", text)`` fixed text, ``("s", kind)``
    string-literal slot, ``("n", kind)`` numeric slot, ``("q", text)`` fixed
    quoted literal (masked like any string), ``("c",)`` optional comment,
    ``("w",)`` variable whitespace. ``base_ms`` is its typical duration."""

    def __init__(self, parts: list[tuple], tables: list[str], macros: bool, base_ms: float):
        for p in parts:
            if p[0] == "t" and re.search(r"\d", p[1]):
                raise ValueError(f"digit in fixed template text: {p[1]!r}")
        self.parts = parts
        self.tables = sorted(set(tables))
        self.macros = macros
        self.base_ms = base_ms
        raw = "".join(
            p[1] if p[0] == "t" else "?" if p[0] in "snq" else " " for p in parts
        )
        self.normalized = re.sub(r"\s+", " ", raw).strip().lower()

    def render(self, rng: np.random.Generator) -> str:
        upper = (not self.macros) and rng.random() < 0.15
        out = []
        for p in self.parts:
            kind = p[0]
            if kind == "t":
                out.append(p[1].upper() if upper else p[1])
            elif kind == "q":
                out.append(p[1])
            elif kind == "s":
                if p[1] == "date":
                    d = EPOCH + dt.timedelta(days=int(rng.integers(0, 60)))
                    out.append(f"'{d:%Y-%m-%d}'")
                else:
                    out.append(f"'{_WORDS[int(rng.integers(0, len(_WORDS)))]}_x'")
            elif kind == "n":
                out.append(
                    str(int(rng.integers(1, 5000)))
                    if p[1] == "int"
                    else f"{rng.random() * 100:.2f}"
                )
            elif kind == "c":
                r = rng.random()
                if r < 0.2:
                    out.append(f" /* dashboard={int(rng.integers(1, 99))} */ ")
                elif r < 0.3:
                    out.append(f" -- job {int(rng.integers(1, 99))}\n")
                else:
                    out.append(" ")
            else:  # "w"
                out.append(" " if rng.random() < 0.8 else "\n    ")
        return "".join(out)


def _ref_forms(rng: np.random.Generator, cat: Catalog, model: str):
    """(sql parts, normalized table ref, uses a dbt macro) for one model."""
    schema = cat.models[model]
    form = int(rng.integers(0, 5))
    if form == 0:
        return [("t", model)], model, False
    if form == 1:
        return [("t", f"{schema}.{model}")], f"{schema}.{model}", False
    if form == 2:
        return [("t", f"analytics.{schema}.{model}")], f"{schema}.{model}", False
    if form == 3:
        return [("t", f'"{schema}"."{model}"')], f"{schema}.{model}", False
    return [("t", "{{ ref("), ("q", f"'{model}'"), ("t", ") }}")], model, True


def _source_form(rng: np.random.Generator, src: tuple[str, str]):
    s, t = src
    if rng.random() < 0.5:
        return [("t", f"{s}.{t}")], f"{s}.{t}", False
    return (
        [("t", "{{ source("), ("q", f"'{s}'"), ("t", ", "), ("q", f"'{t}'"), ("t", ") }}")],
        f"{s}.{t}",
        True,
    )


def build_templates(rng: np.random.Generator, cat: Catalog, n: int) -> list[Template]:
    """``n`` templates of mixed shapes, each with a unique normalized text
    (a per-template alias word makes the masked skeletons distinct)."""
    model_pool = cat.marts * 3 + cat.ints + cat.stg + cat.stg
    out: list[Template] = []
    for i in range(n):
        tag = _word_id(i)

        def pick():
            r = rng.random()
            if r < 0.7:
                return _ref_forms(rng, cat, str(rng.choice(model_pool)))
            if r < 0.85:
                return _source_form(rng, cat.sources[int(rng.integers(0, len(cat.sources)))])
            t = UNCOVERED[int(rng.integers(0, len(UNCOVERED)))]
            return [("t", t)], t, False

        shape = i % 7
        a, ta, ma = pick()
        b, tb, mb = pick()
        c = [("c",)]
        w = [("w",)]
        if shape == 0:  # filter scan
            parts = c + [("t", f"SELECT id, status AS m_{tag} FROM ")] + a + w + [
                ("t", "WHERE id = "), ("n", "int"), ("t", " AND status = "), ("s", "word")]
            tabs, mac = [ta], ma
        elif shape == 1:  # two-way join
            parts = [("t", f"SELECT a.id, b.amount AS m_{tag} FROM ")] + a + [
                ("t", " a")] + w + [("t", "JOIN ")] + b + [
                ("t", " b ON a.id = b.id WHERE a.created_at > "), ("s", "date")] + c
            tabs, mac = [ta, tb], ma or mb
        elif shape == 2:  # CTE over a join
            parts = c + [("t", "WITH recent AS (SELECT id, amount FROM ")] + a + [
                ("t", " WHERE created_at >= "), ("s", "date"),
                ("t", f") SELECT count(*) AS m_{tag} FROM recent r")] + w + [
                ("t", "LEFT JOIN ")] + b + [("t", " x ON r.id = x.id")]
            tabs, mac = [ta, tb], ma or mb
        elif shape == 3:  # aggregation
            parts = [("t", f"SELECT region, sum(amount) AS m_{tag} FROM ")] + a + w + [
                ("t", "GROUP BY region HAVING sum(amount) > "), ("n", "dec"),
                ("t", " ORDER BY "), ("n", "int"), ("t", " DESC LIMIT "), ("n", "int")] + c
            tabs, mac = [ta], ma
        elif shape == 4:  # subquery
            parts = [("t", f"SELECT s.id AS m_{tag} FROM (SELECT id FROM ")] + a + [
                ("t", " WHERE score > "), ("n", "dec"), ("t", ") s")] + w + [
                ("t", "WHERE s.id < "), ("n", "int")] + c
            tabs, mac = [ta], ma
        elif shape == 5:  # comma FROM list
            parts = c + [("t", f"SELECT p.id AS m_{tag} FROM ")] + a + [
                ("t", " p, ")] + b + [("t", " q")] + w + [
                ("t", "WHERE p.id = q.id AND p.kind = "), ("s", "word")]
            tabs, mac = [ta, tb], ma or mb
        else:  # system-table probe
            st = SYSTEM[i % len(SYSTEM)]
            parts = [("t", f"SELECT name AS m_{tag} FROM {st}")] + w + [
                ("t", "WHERE database = "), ("s", "word")] + c
            tabs, mac = [st], False
        out.append(Template(parts, tabs, mac, float(np.exp(rng.normal(4.5, 1.6)))))
    if len({t.normalized for t in out}) != len(out):
        raise AssertionError("template normalized texts collide")
    return out


# --------------------------------------------------------------------------
# query logs


def _zipf_p(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


USERS = [f"user_{_word_id(i)}" for i in range(40)]


class QueryLog:
    """Ground truth for one log: per-row template id, user id, start time
    (epoch µs), duration; ``table(...)`` renders it as parquet rows."""

    def __init__(self, rng, templates, n_rows, t0_us, span_us, sort=True):
        t = len(templates)
        self.tid = rng.choice(t, size=n_rows, p=_zipf_p(t, 1.1))
        self.uid = rng.choice(len(USERS), size=n_rows, p=_zipf_p(len(USERS), 0.9))
        ts = t0_us + rng.integers(0, span_us, size=n_rows)
        if sort:  # time-sorted, so row groups prune by the window predicate
            order = np.argsort(ts, kind="stable")
            ts, self.tid, self.uid = ts[order], self.tid[order], self.uid[order]
        self.ts = ts
        base = np.array([tpl.base_ms for tpl in templates])
        self.dur = np.round(base[self.tid] * np.exp(rng.normal(0, 0.4, n_rows)), 3)
        self.read_rows = rng.integers(1, 1_000_000, size=n_rows)
        self.mem = rng.integers(1 << 20, 1 << 30, size=n_rows)
        self.n = n_rows

    def table(self, rng, templates, raw: bool, start_qid: int = 0) -> pa.Table:
        queries = [templates[i].render(rng) for i in self.tid]
        if raw:  # ClickHouse fills `tables` for a minority of rows only
            has = rng.random(self.n) < 0.15
            tables = [templates[i].tables if h else None for i, h in zip(self.tid, has)]
        else:
            tables = [templates[i].tables for i in self.tid]
        cols = {
            "query_id": pa.array([f"q{start_qid + i}" for i in range(self.n)]),
            "query": pa.array(queries),
        }
        if not raw:
            cols["normalized_query"] = pa.array([templates[i].normalized for i in self.tid])
        cols.update({
            "query_kind": pa.array(["Select"] * self.n),
            "user": pa.array([USERS[u] for u in self.uid]),
            "query_start_time": pa.array(EPOCH_US + self.ts, type=pa.timestamp("us", tz="UTC")),
            "query_duration_ms": pa.array(self.dur, type=pa.float64()),
            "read_rows": pa.array(self.read_rows, type=pa.int64()),
            "read_bytes": pa.array(self.read_rows * 64, type=pa.int64()),
            "memory_usage": pa.array(self.mem, type=pa.int64()),
            "tables": pa.array(tables, type=pa.list_(pa.string())),
        })
        return pa.table(cols)


def _top_freqs(freq: dict[str, int], n: int = 20) -> list[int]:
    return sorted(freq.values(), reverse=True)[:n]


# --------------------------------------------------------------------------
# workload inputs


class AnalyzeInputs:
    """``analyze_raw``: one raw log, a dbt project, and seeded op params."""

    def __init__(self, root: str, seed: int, n_rows: int, n_templates: int, n_tail: int):
        fixed = np.random.default_rng(STRUCTURE_SEED)
        self.cat = Catalog(fixed, n_tail)
        self.templates = build_templates(fixed, self.cat, n_templates)
        rng = np.random.default_rng([seed, 1])
        self.log = QueryLog(rng, self.templates, n_rows, 0, LOG_DAYS * DAY_US)
        self.project_dir = os.path.join(root, "dbt_project")
        self.log_path = os.path.join(root, "raw_log.parquet")
        self.cat.write_manifest(self.project_dir)
        pq.write_table(
            self.log.table(rng, self.templates, raw=True), self.log_path,
            row_group_size=max(1024, n_rows // 32),
        )
        self.op_rng = np.random.default_rng([seed, 2])
        self.n_ops = 0

    def next_op(self) -> dict:
        """Seeded parameters of one op. Shapes rotate in a fixed order --
        plain window, slow focus, user include list, user exclude list -- so
        every run times the same mix; the window, users and
        ``min_frequency`` are drawn. Every window is 7 of the 14 logged
        days, so each op covers about half the log."""
        rng = self.op_rng
        end_day = int(rng.integers(7, LOG_DAYS + 1))
        shape = self.n_ops % 4
        self.n_ops += 1
        p = {
            "start_time": EPOCH + dt.timedelta(days=end_day - 7),
            "end_time": EPOCH + dt.timedelta(days=end_day),
            "focus": "SLOW" if shape == 1 else "ALL",
            "include_users": (),
            "exclude_users": (),
            "min_frequency": int(rng.choice([1, 2, 3, 5])),
        }
        if shape == 2:
            p["include_users"] = tuple(
                USERS[i] for i in rng.choice(len(USERS), 30, replace=False))
        elif shape == 3:
            p["exclude_users"] = tuple(
                USERS[i].upper() for i in rng.choice(len(USERS), 3, replace=False))
        return p

    def _window(self, p: dict) -> np.ndarray:
        lo = int((p["start_time"] - EPOCH).total_seconds()) * 1_000_000
        hi = int((p["end_time"] - EPOCH).total_seconds()) * 1_000_000
        return (self.log.ts >= lo) & (self.log.ts < hi)

    def window_rows(self, p: dict) -> int:
        """Log rows in the op's time window: the rows it covers."""
        return int(self._window(p).sum())

    def reference(self, p: dict) -> dict:
        lg = self.log
        m = self._window(p)
        if p["include_users"]:
            keep = {u.lower() for u in p["include_users"]}
            m &= np.isin(lg.uid, [i for i, u in enumerate(USERS) if u in keep])
        if p["exclude_users"]:
            drop = {u.lower() for u in p["exclude_users"]}
            m &= ~np.isin(lg.uid, [i for i, u in enumerate(USERS) if u in drop])
        if p["focus"] == "SLOW":
            m &= lg.dur > SLOW_MS
        d = lg.dur[m]
        freq_by_tid = np.bincount(lg.tid[m], minlength=len(self.templates))
        kept = [i for i, f in enumerate(freq_by_tid) if f > 0 and f >= p["min_frequency"]]
        freq = {self.templates[i].normalized: int(freq_by_tid[i]) for i in kept}
        tables = {self.templates[i].normalized: self.templates[i].tables for i in kept}
        touched = {t for i in kept for t in self.templates[i].tables}
        used = {self.cat.resolve(t) for t in touched} - {None}
        uncovered = sorted(
            t for t in touched if self.cat.resolve(t) is None and not self.cat.is_source(t)
        )
        total = len(self.cat.models)
        return {
            "summary": {
                "total_queries": int(m.sum()),
                "distinct_users": int(len(np.unique(lg.uid[m]))),
                "slow": int((d > SLOW_MS).sum()),
                "medium": int(((d > MEDIUM_MS) & (d <= SLOW_MS)).sum()),
                "fast": int((d <= MEDIUM_MS).sum()),
            },
            "freq": freq,
            "tables": tables,
            "top_freqs": _top_freqs(freq),
            "coverage": {
                "total_models": total,
                "used_models": len(used),
                "coverage_pct": len(used) * 100.0 / total,
            },
            "uncovered": uncovered,
        }


class StreamInputs:
    """``refresh_stream``: one pre-normalized log file per op, plus the
    cumulative pattern state the stream should hold after each op."""

    def __init__(self, root: str, seed: int, rows_per_file: int, n_templates: int):
        fixed = np.random.default_rng(STRUCTURE_SEED)
        self.templates = build_templates(fixed, Catalog(fixed, 0), n_templates)
        self.rng = np.random.default_rng([seed, 4])
        self.rows_per_file = rows_per_file
        self.staging = os.path.join(root, "arrivals")
        self.input_dir = os.path.join(root, "stream_in")
        os.makedirs(self.staging, exist_ok=True)
        os.makedirs(self.input_dir, exist_ok=True)
        self.freq = np.zeros(n_templates, dtype=np.int64)
        self.n_files = 0

    def stage_next(self) -> str:
        """Write the next arrival outside the watched directory; the op
        moves it in (an atomic rename) right before it starts the stream."""
        i = self.n_files
        log = QueryLog(self.rng, self.templates, self.rows_per_file,
                       i * DAY_US // 24, DAY_US // 24, sort=False)
        path = os.path.join(self.staging, f"part-{i:05d}.parquet")
        pq.write_table(log.table(self.rng, self.templates, raw=False,
                                 start_qid=i * self.rows_per_file), path)
        self.freq += np.bincount(log.tid, minlength=len(self.templates))
        self.n_files += 1
        return path

    def reference(self) -> dict:
        """State after every staged file was ingested: the first two
        20-row pages under ORDER BY frequency DESC, normalized_query."""
        rows = sorted(
            ((int(f), self.templates[i].normalized, self.templates[i].tables)
             for i, f in enumerate(self.freq) if f > 0),
            key=lambda r: (-r[0], r[1]),
        )
        freq = {r[1]: r[0] for r in rows}
        return {
            "page0": [(r[1], r[0], r[2]) for r in rows[:20]],
            "page1": [(r[1], r[0], r[2]) for r in rows[20:40]],
            "top_freqs": _top_freqs(freq),
            "freq": freq,
        }


class VectorInputs:
    """``ann_probe``: a clustered corpus and seeded query vectors with their
    exact cosine top-k."""

    def __init__(self, root: str, seed: int, n: int, dim: int, n_queries: int, k: int = 10):
        centers = np.random.default_rng(STRUCTURE_SEED).normal(0, 1, size=(64, dim))
        rng = np.random.default_rng([seed, 5])
        assign = rng.integers(0, len(centers), size=n)
        x = (centers[assign] + rng.normal(0, 0.35, size=(n, dim))).astype(np.float32)
        self.path = os.path.join(root, "embeddings.parquet")
        emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
            pa.list_(pa.float32()))
        pq.write_table(
            pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb}),
            self.path, row_group_size=max(1024, n // 16),
        )
        qc = rng.integers(0, len(centers), size=n_queries)
        q = centers[qc] + rng.normal(0, 0.5, size=(n_queries, dim))
        self.queries = [row.tolist() for row in q]
        xd = x.astype(np.float64)
        cos = (q @ xd.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(xd, axis=1))
        self.exact = [set(np.argsort(-row, kind="stable")[:k].tolist()) for row in cos]
        self.n = n
