"""The three benchmark workloads. Each is a closed loop with one client:
the next op starts when the previous one has returned.

A workload generates its inputs when it is constructed (untimed, outside
set-up) and builds its session-scoped state in ``setup`` (timed as
set-up). Each op is two calls: ``prepare`` (untimed) draws the op's
parameters or delivers its arriving file and returns the rows the op
covers; ``op`` (timed) calls only public functions of the package, each
inside a tracer span, and returns a ``check`` that compares the answer
with the generator's reference after the op's timer has stopped.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import gen
from spans import catalyst_ms

PAGE = 20
K = 10
# The CLI's own default. The transitive closure (None) adds about twenty
# eager jobs, some 2 s, to every op, more than the run budget can carry;
# analyze.construct_ms still times the one-hop closure's eager jobs.
MAX_HOPS = 1


def _recall_top(page: list[tuple[str, int]], ref_freq: dict[str, int], top: list[int]) -> float:
    """Tie-aware top-10 overlap of a frequency-ordered page with the
    reference: a row counts when its frequency is right and reaches the
    reference's 10th-highest frequency."""
    want = min(K, len(top))
    if want == 0:
        return 1.0
    kth = top[want - 1]
    hits = sum(1 for key, f in page[:want] if ref_freq.get(key) == f and f >= kth)
    return hits / want


class AnalyzeRaw:
    """``analyze_raw``: the CLI ``analyze`` command over a raw-SQL log."""

    name = "analyze_raw"
    setup_reps = 5
    warmup_ops = 1
    min_ops = 2
    op_cycle = 1

    def __init__(self, work: str, seed: int, small: bool):
        n_rows = 2_000 if small else 4_000
        self.inputs = gen.AnalyzeInputs(work, seed, n_rows, n_templates=60, n_tail=120)
        self.sizes = {"log_rows": n_rows, "templates": 60,
                      "dbt_models": len(self.inputs.cat.models)}
        self.last = None

    def setup(self, spark, timings: dict) -> None:
        from querysight_spark.sources.dbt_catalog import catalog_frames, parse_dbt_project

        self.spark = spark
        t0 = time.perf_counter()
        self.dims = catalog_frames(spark, parse_dbt_project(self.inputs.project_dir))
        timings["sources.dbt_parse_ms"] = (time.perf_counter() - t0) * 1000.0
        self.logs = spark.read.parquet(self.inputs.log_path)

    def prepare(self) -> int:
        self.last = self.inputs.next_op()
        return self.inputs.window_rows(self.last)

    def op(self, tr):
        from querysight_spark.analyze import run_analysis
        from querysight_spark.plans.report import paginate

        p = self.last
        model_map, sources, edges = self.dims
        by_freq = [F.col("frequency").desc(), F.col("pattern_id")]
        with tr.span("analyze.construct"):
            res = run_analysis(
                self.spark, self.logs, model_map, sources, edges,
                level="optimization", extract_from_sql=True, max_hops=MAX_HOPS, **p,
            )
        with tr.span("plans.report"):
            summary = res.summary.first().asDict()
        with tr.span("plans.patterns"):
            page = paginate(res.patterns, by_freq, 0, PAGE).collect()
        with tr.span("plans.coverage"):
            cov = res.coverage.first().asDict()
            unc = paginate(res.uncovered_tables, [F.col("tname")], 0, PAGE).collect()
        with tr.span("plans.recommend"):
            recs = paginate(res.recommendations, by_freq, 0, PAGE).collect()

        def check():
            ref = self.inputs.reference(p)
            pairs = [(r.normalized_query, r.frequency) for r in page]
            ok = (
                summary == ref["summary"]
                and [f for _, f in pairs] == ref["top_freqs"]
                and all(ref["freq"].get(k) == f for k, f in pairs)
                and all(list(r.tables_accessed) == ref["tables"][r.normalized_query]
                        for r in page)
                and cov["total_models"] == ref["coverage"]["total_models"]
                and cov["used_models"] == ref["coverage"]["used_models"]
                and abs(cov["coverage_pct"] - ref["coverage"]["coverage_pct"]) < 1e-9
                and [r.tname for r in unc] == ref["uncovered"][:PAGE]
                and all(ref["freq"].get(r.normalized_query) == r.frequency for r in recs)
            )
            return ok, _recall_top(pairs, ref["freq"], ref["top_freqs"])

        return check

    def stage_self_times(self, reps: int = 3) -> dict:
        """Self time of the normalize and sqlextract stages on the last op's
        window: nested pipeline prefixes (scan, + normalize, + sqlextract)
        are each materialized, and a stage's self time is the difference
        between the prefix that ends with it and the one before."""
        from querysight_spark.functions.normalize import with_pattern_columns
        from querysight_spark.functions.sqlextract import extract_tables_udf
        from querysight_spark.operators.parallel import floor_parallelism
        from querysight_spark.plans.patterns import filter_logs

        window = {k: v for k, v in self.last.items() if k != "min_frequency"}

        def prefix(stage: str):
            base = floor_parallelism(filter_logs(self.logs, **window))
            if stage == "scan":
                return base.select(F.sum(F.length("query")))
            norm = with_pattern_columns(base)
            if stage == "normalize":
                return norm.select(F.sum(F.length("pattern_id")))
            return norm.select(F.sum(F.length("pattern_id"))
                               + F.sum(F.size(extract_tables_udf(F.col("query")))))

        ms = {}
        for stage in ("scan", "normalize", "sqlextract"):
            runs = []
            for _ in range(reps):
                # a fresh frame each time: collecting the same one again
                # would reuse its shuffle output and skip the stage
                df = prefix(stage)
                t0 = time.perf_counter()
                df.collect()
                runs.append((time.perf_counter() - t0) * 1000.0)
            ms[stage] = statistics.median(runs)
        return {
            "functions.normalize_ms": ms["normalize"] - ms["scan"],
            "functions.sqlextract_ms": ms["sqlextract"] - ms["normalize"],
        }


class RefreshStream:
    """``refresh_stream``: incremental pattern state over arriving files."""

    name = "refresh_stream"
    setup_reps = 3
    warmup_ops = 3  # the first few batches are still settling
    min_ops = 6
    op_cycle = 1
    compact_every = 4

    def __init__(self, work: str, seed: int, small: bool):
        rows = 1_000 if small else 5_000
        self.work = work
        self.inputs = gen.StreamInputs(work, seed, rows, n_templates=60)
        self.sizes = {"rows_per_file": rows, "templates": 60}
        self.n_ops = 0
        history = self.inputs.stage_next()
        os.rename(history, os.path.join(self.inputs.input_dir, "history.parquet"))

    def setup(self, spark, timings: dict) -> None:
        """Fresh state and checkpoint, bootstrapped by one history file."""
        from querysight_spark.streaming.incremental import (
            start_incremental_merge,
            stream_query_logs,
        )

        self.spark = spark
        t0 = time.perf_counter()
        for d in ("state", "checkpoint", "compacted"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        self.state_dir = os.path.join(self.work, "state")
        self.ckpt = os.path.join(self.work, "checkpoint")
        self.compacted = os.path.join(self.work, "compacted")
        self._start = lambda: start_incremental_merge(
            stream_query_logs(spark, self.inputs.input_dir), self.state_dir, self.ckpt,
            min_frequency=1, extract_from_sql=False,
        )
        self._start().awaitTermination()
        timings["streaming.init_ms"] = (time.perf_counter() - t0) * 1000.0

    def prepare(self) -> int:
        """Deliver the op's file: an atomic rename into the watched dir."""
        staged = self.inputs.stage_next()
        os.rename(staged, os.path.join(self.inputs.input_dir, os.path.basename(staged)))
        return self.inputs.rows_per_file

    def op(self, tr):
        from querysight_spark.plans.report import page_after, paginate
        from querysight_spark.streaming.incremental import (
            compact_pattern_state,
            read_pattern_state,
        )

        i = self.n_ops
        self.n_ops += 1
        with tr.span("streaming.batch"):
            self._start().awaitTermination()
        with tr.span("streaming.read_state"):
            state = read_pattern_state(self.spark, self.state_dir)
        with tr.span("plans.report"):
            p0 = paginate(state, [F.col("frequency").desc(), F.col("normalized_query")], 0, PAGE
                          ).collect()
            last = p0[-1]
            p1 = page_after(state, "frequency", "normalized_query", last.frequency,
                            last.normalized_query, PAGE, descending=True).collect()
        if i % self.compact_every == self.compact_every - 1:
            with tr.span("streaming.compact"):
                compact_pattern_state(self.spark, self.state_dir, self.compacted)

        def check():
            ref = self.inputs.reference()
            got0 = [(r.normalized_query, r.frequency, list(r.tables_accessed)) for r in p0]
            got1 = [(r.normalized_query, r.frequency, list(r.tables_accessed)) for r in p1]
            ok = got0 == ref["page0"] and got1 == ref["page1"]
            return ok, _recall_top([g[:2] for g in got0], ref["freq"], ref["top_freqs"])

        return check

    def state_footprint(self) -> dict:
        files = size = 0
        for d, _, names in os.walk(self.state_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
        return {"streaming.state_files": files, "streaming.state_bytes": size}


class AnnProbe:
    """``ann_probe``: top-10 probes round-robin over the PQ, IVF-PQ and LSH
    production operating points of ``bench.py``'s ``ANN_BENCH``."""

    name = "ann_probe"
    setup_reps = 3
    warmup_ops = 6  # two rounds: a family's second probe is still settling
    min_ops = 9
    op_cycle = 3  # whole PQ, IVF-PQ, LSH rounds, so every run has the same mix
    recall_probes = 15  # recall is averaged over a fixed probe count

    def __init__(self, work: str, seed: int, small: bool):
        n = 1_000 if small else 2_000
        self.work = work
        self.inputs = gen.VectorInputs(work, seed, n, 64, n_queries=400)
        self.sizes = {"corpus_vectors": n, "dim": 64}
        self.n_ops = 0

    def setup(self, spark, timings: dict) -> None:
        from querysight_spark.operators import similarity as S

        self.spark = spark
        self.vecs = spark.read.parquet(self.inputs.path)
        root = os.path.join(self.work, "index")
        shutil.rmtree(root, ignore_errors=True)
        self.paths = {f: os.path.join(root, f) for f in ("pq", "ivfpq", "lsh")}
        t0 = time.perf_counter()
        S.build_pq_index(self.vecs, self.paths["pq"], dim=64, m=32, k=64)
        S.build_ivfpq_index(self.vecs, self.paths["ivfpq"], dim=64, n_centroids=16, m=32, k=64)
        S.build_lsh_index(self.vecs, self.paths["lsh"], dim=64, bits=4)
        timings["similarity.index_build_s"] = time.perf_counter() - t0

    def _probe(self, i: int, q: list[float]):
        from querysight_spark.operators import similarity as S

        fam = ("pq", "ivfpq", "lsh")[i % 3]
        if fam == "pq":
            return S.probe_pq_index(self.spark, self.paths["pq"], q, k=K,
                                    rerank_df=self.vecs, oversample=10)
        if fam == "ivfpq":
            return S.probe_ivfpq_index(self.spark, self.paths["ivfpq"], q, k=K, n_probes=8,
                                       rerank_df=self.vecs, oversample=10)
        return S.probe_lsh_index(self.spark, self.paths["lsh"], q, k=K, bits=4, n_probes=4)

    def prepare(self) -> int:
        return self.inputs.n

    def op(self, tr):
        i = self.n_ops
        self.n_ops += 1
        q = self.inputs.queries[i % len(self.inputs.queries)]
        with tr.span("similarity.construct"):
            df = self._probe(i, q)
        with tr.span("similarity.exec") as rec:
            rows = df.collect()
        if tr.enabled:
            rec["catalyst_ms"] = catalyst_ms(df)

        def check():
            got = {r.vec_id for r in rows}
            exact = self.inputs.exact[i % len(self.inputs.queries)]
            return len(rows) == K, len(got & exact) / K

        return check


WORKLOADS = {w.name: w for w in (AnalyzeRaw, RefreshStream, AnnProbe)}
