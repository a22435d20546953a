"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family (SURVEY.md §2):
  * p01-p68   — general-operator probes (scan/filter/agg/join/window/
                setop/scalar/lateral/unpivot/interval/map/subquery) run
                via spark.sql over the testdata views, i.e. straight
                through Catalyst.
  * h01-h22   — TPC-H-adapted composition probes, all 22 decision-
                support shapes: pricing summary, correlated-MIN cheapest
                supplier, EXISTS priority check, multi-join volume/share
                queries, outer-join count distribution, max-over-view
                top supplier, NOT-IN supplier counts, nested correlated
                agg under IN, multi-(NOT-)EXISTS waiting suppliers,
                anti-join sales opportunity — re-parameterized for the
                columns the corpus carries.
  * ql01-ql28 — querysight pipeline parity (pattern hash-agg, merge,
                coverage joins, closure, summaries, pagination incl.
                keyset, caching, lifecycle, dbt catalog, JSONL
                round-trip) computed by the
                ENGINE's DataFrame plans (querysight_spark.plans.*) over
                a deterministic query-log analog derived from `events`.
  * dd01-dd11 — dedup family (exact, MinHash-LSH + estimator quality,
                n-gram Jaccard, SimHash, cosine exact/LSH, clustering,
                keep-best, incremental delta-dedup vs a persisted band
                index).
  * ir01-ir10 — full-text relevance (BM25 top-k in-flight and over a
                persisted term-sorted inverted index, tf-idf, corpus
                unigram/bigram-LM quality scores, vocab fingerprint,
                positional-postings exact-phrase retrieval, upsertable
                index with O(delta) absorb and forward-index tombstone
                delete).
  * cl01-cl03 — embedding clustering (nearest-centroid assignment),
                SemDeDup semantic dedup, iterative k-means refinement.
  * ss01-ss17 — similarity search (brute force through persisted IVF+PQ,
                filtered/grouped/batch top-k, incremental index upsert,
                NSW-style and hierarchical HNSW graph indexes with
                beam-search probes + incremental inserts, batch serving
                over the persisted index);
                declared in EXACT MODE (exhaustive probes, corpus-wide
                rerank) so every entry hash-matches the brute-force
                oracle; production operating points live in pytest
                recall tests and bench.py's ANN_BENCH probes.
  * ss18      — metadata-filtered probe over the persisted IVF+PQ
                index (semi-join after partition pruning, before ADC;
                exact mode equals the brute-force-filtered oracle).
  * tx/tr/sk  — text analysis + splits + stratified sampling + epoch
                upsampling + contamination + GPT-style sequence packing
                (tx23: distributed prefix-sum placement map; tx24: the
                materialized fixed-length packs themselves; tx25: seeded
                deterministic shard shuffle + size accounting), rollup
                tiers incl. streaming absorption, self-checking sketches
                incl. a cell-exact portable Count-Min.
  * st01-st18 — Structured Streaming under the gate (windows, stateful
                counts, cross-batch dedup, session windows, stream-
                stream join, session-state absorption into a persisted
                tier, JSONL ingest with re-delivery suppression,
                stream-static broadcast enrichment, stateful ring-buffer
                anomaly detection, cross-batch stateful top-k with
                eviction, binned-KS drift monitoring against a
                broadcast reference histogram, epoch-journaled ANN
                serving, ingest absorbed into the upsertable BM25
                index, exactly-once ingest into the versioned table
                via txn-stamped commits, st15 deduplicating ingest —
                per-batch fingerprint lens anti-join, exactly-distinct
                corpus under txn + data-level replay safety; st16 the
                COMMIT LOG AS A STREAM — manifests tailed by the file
                source drive retractable MV refreshes end-to-end;
                st17 exactly-once CDC command replay; st18 incremental
                consumer SURVIVING maintenance — zorder/evolve commits
                cross an incremental_read range with no double counts,
                row-changing commits degrade to the change feed),
                drained availableNow vs batch oracles.
  * aj/rj/sj/mm — as-of join, range join, salted join, multimodal
                (incl. mm06 perceptual dHash over decoded rasters)
                (mm04: REAL payload decode — netpbm/WAV codecs round-
                tripped digit-for-digit against a formula oracle;
                mm05: frame-level audio energy/VAD over the decoded
                samples; mm07: COMPRESSED-container decode — pure-
                stdlib zlib-DEFLATE PNG encode/decode with five-filter
                reconstruction, no PIL required; mm08: baseline
                sequential-DCT JPEG encode/decode — Annex K Huffman
                entropy coding + float DCT, bit-exact on the
                block-constant gate corpus, no PIL required; mm09:
                compressed IMA-ADPCM WAV encode/decode — container
                byte counts, fact-chunk frame counts, bit-exact
                block-start predictors, and lossy error bounds under
                the hash; mm10: REAL VIDEO container — YUV4MPEG2
                encode/parse with frame validation, container byte
                counts + bit-exact luma sums under the hash).
  * ts/an     — time-series resample + gap-fill (forward and linear),
                per-row ordered-fold EWMA, Brown double smoothing,
                two-sample KS drift, CUSUM change-point alarms,
                FIR weighted moving average, trailing-window and
                seasonal-profile anomaly detection, chi-square
                independence surface.
  * dq/io     — data-quality expectation suite + referential-integrity
                orphans; dq04: schema/statistics drift between corpus
                vintages (two one-pass column profiles + columns-sized
                join; type/null-rate/mean-shift verdicts); CSV source round-trip; Hive-partitioned
                parquet and ORC sink/source round-trips; streaming-sink
                small-files compaction (io05: per-batch file litter →
                even rewrite, values + file-count under the hash);
                io06: versioned table with manifest-planned snapshot
                reads, time-travel, metadata-only rollback, and
                file-level CDC all under one hash; io07: manifest
                ZONE-MAP data skipping — per-file min/max lifted from
                parquet footers at commit, bottom-decile scan plans
                only intersecting files; io08: atomic small-file
                OPTIMIZE — footer-metadata row counts pick the litter,
                bin-packed rewrite re-clustered on the zone-map column,
                big files carry by reference; io09: MULTI-column
                zone-map conjunction over co-clustered id/event-time —
                plans strictly fewer files than either predicate alone;
                io10: Z-order OPTIMIZE (conjunction beats both
                single-column clusters); io11: INCREMENTAL Z-order —
                re-clusters only files committed since the last zorder
                (O(delta), untouched files carry by reference, pruning
                restored); io12: per-file KEY-MEMBERSHIP (Bloom)
                filters — merge/point-read planning prunes files on
                UNCLUSTERED keys where zone ranges all overlap, FPR
                measured and pinned under 5 percent.
  * lk/gr/vx  — blocked fuzzy-join record linkage (+ per-block match
                summary), iterative PageRank vs an unrolled-CTE oracle,
                large-star/small-star connected components, triangle
                enumeration, frontier BFS distances, gr08 synchronous
                label-propagation communities (3 unrolled rounds, min
                tie-break) vs the same rounds as DuckDB CTEs,
                per-dimension embedding z-score scaling and quartile
                binning.
  * co01-co03 — behavioral analytics: weekly cohort-retention triangle,
                ordered first-touch funnel, Markov transition matrix.
  * px01-px04 — end-to-end pipeline compositions under one hash
                (curation chain; boilerplate-strip -> BM25 retrieval;
                clean -> dedup -> pack -> shard writer last mile;
                ingest -> clean -> dedup -> shard -> persisted BM25
                index probe); dq01-dq04 expectation/orphan/diff/drift
                suite.
  * wh01-wh07 — warehouse table maintenance: SCD2 type-2 history
                build (batch chain, no-op compression) and the
                incremental broadcast-delta MERGE, both against the
                same SQL-window oracle; wh03: copy-on-write MERGE INTO
                the versioned table rewriting only zone-map-touched
                files (update-all/insert-all/delete in one full-outer
                join); wh04: merge-on-read DELETION VECTORS — key
                tombstone sidecar, anti-join reads, compaction folds
                only affected files, 'mor' == 'cow' under one hash;
                wh05: incremental materialized-view maintenance off
                the table's CDC feed — per-commit delta absorb with a
                manifest-stamped watermark, idempotent refresh; wh06:
                row-level CHANGE DATA FEED — per-commit key diffs of
                touched files (update_pre/update_post/insert/delete,
                tombstone pre-images, physical rewrites silent); wh07:
                RETRACTABLE incremental view maintenance — signed-delta
                folds of the feed keep the MV exact under updates and
                deletes, compaction refreshes free.

``oracle_sql()`` carries the DuckDB-dialect equivalent for EVERY entry
(CTE-reconstructed analog tables where needed), so the driver's
row-count + schema + value-hash gate covers the full inventory.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _ensure_conf(spark: SparkSession) -> None:
    """The driver may hand us a session it built itself — pin the confs our
    plans rely on (UTC timestamps, nanos-as-long parquet reads)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static conf on some builds; sources.catalog handles the cast


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full analyze-equivalent on sf0.001 — pattern hash-agg over
    the query-log analog, enriched with dbt model coverage."""
    _ensure_conf(spark)
    from querysight_spark.demo import build_model_map, build_query_log
    from querysight_spark.plans.coverage import patterns_with_models, resolve_models
    from querysight_spark.plans.patterns import aggregate_patterns
    from pyspark.sql import functions as F

    log = build_query_log(spark, "/root/testdata/sf0.001")
    patterns = aggregate_patterns(log, min_frequency=2, extract_from_sql=True)
    enriched = patterns_with_models(
        patterns, resolve_models(patterns, build_model_map(spark))
    )
    return enriched.select(
        "normalized_query",
        "frequency",
        F.round("total_duration_ms", 2).alias("total_duration_ms"),
        "first_seen",
        "last_seen",
        F.array_join("users", ",").alias("users_list"),
        F.array_join("dbt_models_used", ",").alias("models_list"),
    ).orderBy("normalized_query")


def _sql_query(spark_sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_conf(spark)
        from querysight_spark.sources import register_views

        register_views(spark, sf_dir)
        return spark.sql(spark_sql)

    return run


def _engine_query(fn) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_conf(spark)
        return fn(spark, sf_dir)

    return run


def _driver_verified() -> tuple[dict[str, int], set[str]]:
    """(green, rows_only_seen): ``green`` maps each name with a
    hash-matched row in any prior round's CORRECTNESS file to the LATEST
    round that verified it; ``rows_only_seen`` holds names whose only
    record is a rows-only check (``err == 'no_oracle'`` with spark_rows
    recorded — the query RAN, it just had no oracle that round). The
    ~50-entry per-round sweep stops on a time/count budget over the dict
    order, so ordering matters: never-run entries go first, rows-only-seen
    second, then greens OLDEST-VERIFIED-FIRST — the testdata tree is
    regenerated between rounds, so with the whole inventory green the
    sweep's job is refreshing the stalest evidence onto the current
    corpus vintage (~50/round rotation). Reading the actual files keeps
    the rule self-maintaining."""
    import glob
    import json
    import re

    green: dict[str, int] = {}
    rows_only: set[str] = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if not row.get("err") and row.get("rows_match", True):
                green[name] = max(green.get(name, 0), rnd)
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                rows_only.add(name)
    return green, rows_only - set(green)


def _registries():
    """All (name, fn, oracle) rows, never-driver-verified entries first
    (see _driver_verified)."""
    from querysight_spark.extension_queries import EXTENSION_QUERIES
    from querysight_spark.pipeline_queries import PIPELINE_QUERIES
    from querysight_spark.probes import PROBES

    green, rows_only = _driver_verified()

    def _pri(name: str) -> tuple[int, int]:
        # (0,_) = never driver-run, (1,_) = ran rows-only (no oracle that
        # round, re-check once it gains one), (2, round) = hash-matched
        # green, stalest evidence first
        if name in green:
            return (2, green[name])
        return (1, 0) if name in rows_only else (0, 0)

    rows: list[tuple[tuple[int, int], str, Callable | None, str | None]] = []
    for name, (fn, oracle) in EXTENSION_QUERIES.items():
        rows.append((_pri(name), name, _engine_query(fn), oracle))
    for name, (fn, oracle) in PIPELINE_QUERIES.items():
        rows.append((_pri(name), name, _engine_query(fn), oracle))
    for name, (spark_sql, duck) in PROBES.items():
        rows.append(
            (
                _pri(name),
                name,
                _sql_query(spark_sql),
                duck if duck is not None else spark_sql,
            )
        )
    rows.sort(key=lambda r: r[0])  # stable: in-group registration order kept
    return [(name, fn, oracle) for _pri, name, fn, oracle in rows]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, fn, _oracle in _registries()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle for name, _fn, oracle in _registries() if oracle is not None}
