"""Structured Streaming variant of the pattern pipeline (SURVEY §2.I).

The reference is a batch poller: it re-reads a sliding N-day window of the
append-only query log on every run (/root/reference/utils/data_acquisition.py:86-87)
and merges the result into SQLite pattern state
(utils/cache_manager.py:591-607) — with NO idempotency key, so overlapping
re-runs double-count (fidelity F9). This module is the Spark-native
restatement:

* I1 — ``stream_query_logs``: ``readStream`` over the log directory; new
  files are discovered incrementally instead of re-scanning the window.
* I4 — ``windowed_pattern_counts``: event-time windows + watermark give
  the late-data semantics the reference lacks (it silently re-reads).
* I2 — ``start_incremental_merge``: ``foreachBatch`` writes each
  micro-batch's PARTIAL pattern aggregate to ``state_dir/batch_id=N``.
  Replayed epochs overwrite the same partition, so the merge is
  idempotent by construction — the (pattern_id, window_id) keying decided
  in SURVEY §7.4.4, with Structured Streaming's epoch id as window_id.
* ``read_pattern_state``: merged view via one re-aggregation over every
  batch partition (same shape as plans.patterns.merge_patterns).
* ``compact_pattern_state``: writes that merged view to a separate
  snapshot directory. No batch partition is retired and no reader reads
  the snapshot, so it does not shorten the union ``read_pattern_state``
  scans.

Scale notes: per-batch aggregates are tiny relative to raw logs (patterns ×
batch), so state grows with #batches × #patterns, and every read of the
state is a single shuffle on pattern_id over all of it. The alternative —
stateful streaming agg with ``outputMode("update")`` — keeps unbounded per-key state in the state
store; the batch-partition design bounds each write and keeps the state
readable by any batch consumer without a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from querysight_spark.plans.patterns import aggregate_patterns, merge_patterns
from querysight_spark.schemas import QUERY_LOG_SCHEMA


def stream_query_logs(
    spark: SparkSession,
    input_dir: str,
    schema=QUERY_LOG_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """I1: file-source stream over an append-only query-log directory.

    The schema must be supplied (streaming sources don't infer);
    ``maxFilesPerTrigger`` bounds micro-batch size for backpressure."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def windowed_pattern_counts(
    logs: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """I4: tumbling event-time windows with an explicit allowed-lateness
    watermark — rows later than ``watermark`` behind the max seen event
    time are dropped and their windows finalized (the reference has no
    late-data story; it re-reads the whole window instead)."""
    return (
        logs.withWatermark("query_start_time", watermark)
        .groupBy(
            F.window("query_start_time", window_duration).alias("win"),
            F.col("normalized_query"),
        )
        .agg(
            F.count(F.lit(1)).alias("frequency"),
            F.sum("query_duration_ms").alias("total_duration_ms"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "normalized_query",
            "frequency",
            "total_duration_ms",
        )
    )


def streaming_exact_dedup(
    logs: DataFrame,
    key_cols: list[str] | None = None,
    time_col: str = "query_start_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark`` keeps
    per-key state only until the watermark passes — bounded state, unlike
    a plain ``dropDuplicates`` on a stream which remembers keys forever).
    Default key = ``query_id``, the log's natural event id."""
    keys = list(key_cols) if key_cols else ["query_id"]
    return logs.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


def start_incremental_merge(
    logs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    min_frequency: int = 1,
    extract_from_sql: bool = False,
    trigger_available_now: bool = True,
):
    """I2: maintain incremental pattern state via ``foreachBatch``.

    Each micro-batch is aggregated to patterns and written to
    ``state_dir/batch_id=<epoch>``. Epoch replay after a failure overwrites
    the same path — idempotent, unlike the reference's double-counting
    merge (fidelity F9). Returns the started StreamingQuery; callers
    ``awaitTermination`` it.
    """

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        pats = aggregate_patterns(
            batch_df,
            min_frequency=min_frequency,
            extract_from_sql=extract_from_sql,
        )
        pats.write.mode("overwrite").parquet(f"{state_dir}/batch_id={epoch_id}")

    writer = logs.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_pattern_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged view over all batch partitions: one re-aggregation keyed by
    (pattern_id, normalized_query), identical semantics to
    plans.patterns.merge_patterns over N inputs."""
    state = spark.read.option("basePath", state_dir).parquet(f"{state_dir}/batch_id=*")
    state = state.drop("batch_id")
    return merge_patterns(state, state.limit(0))


def compact_pattern_state(spark: SparkSession, state_dir: str, out_dir: str) -> None:
    """Write the merged view of all N batch partitions to ``out_dir`` as
    one snapshot (overwriting it). The batch partitions stay in place and
    ``read_pattern_state`` keeps reading them, not the snapshot, so the
    read-side union still grows by one partition per batch."""
    read_pattern_state(spark, state_dir).write.mode("overwrite").parquet(out_dir)


def start_rollup_absorb(
    events: DataFrame,
    tier_path: str,
    checkpoint_dir: str,
    time_col: str,
    value_col: str,
    every: str = "1 hour",
    group_cols: list[str] | None = None,
    partition_granularity: str = "day",
):
    """Streaming absorption into a persisted rollup tier (the hypertable
    maintenance loop at 100 TB), journal-style so micro-batch REPLAY is
    safe: each batch's partial rollup is first staged to
    ``tier_path/_partials/batch_id=<epoch>`` (dynamic partition overwrite
    keyed by the epoch — re-running the epoch rewrites the SAME partition
    with the same content, never appends), then the calendar chunks the
    batch touches are REBUILT from all staged partials overlapping those
    dates and upserted into the tier. The tier is thus a pure function of
    the journal: a crash between stage and rebuild, or a foreachBatch
    re-invocation (at-least-once semantics), re-derives identical chunk
    contents instead of double-counting — the same reason
    ``start_incremental_merge`` keys its state by epoch. A naive
    read-tier-merge-write here would add the replayed batch twice.

    History chunks the batch doesn't touch are never read or rewritten;
    the rebuild reads partials partition-pruned to the touched dates.
    Partials accumulate one small file set per (epoch, chunk) — the
    journal a compaction job can fold once its epochs are final (the
    ``compact_pattern_state`` analog), bounded by batches × patterns,
    not raw rows. The underscore prefix keeps Spark's readers from
    treating the journal as tier data. Returns the started
    StreamingQuery."""
    import os

    from querysight_spark.operators.rollup import time_rollup, upsert_rollup_tier

    groups = list(group_cols or [])

    def _absorb(batch_df: DataFrame, epoch_id: int) -> None:
        absorb_rollup_batch(
            batch_df, epoch_id, tier_path, time_col, value_col,
            every, groups, partition_granularity,
        )

    return (
        events.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def absorb_rollup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    tier_path: str,
    time_col: str,
    value_col: str,
    every: str = "1 hour",
    group_cols: list[str] | None = None,
    partition_granularity: str = "day",
) -> None:
    """One epoch of the journal-style absorb (module-level so replay
    semantics are directly testable). Idempotency is per (checkpoint,
    epoch): Spark's contract is that a re-invoked epoch carries the same
    data, and the stage step rewrites exactly that epoch's partitions.
    Pointing a NEW stream (fresh checkpoint, epoch ids restarting at 0)
    at an existing journal is operator error, as with any journal."""
    import os

    from querysight_spark.operators.rollup import time_rollup, upsert_rollup_tier

    groups = list(group_cols or [])
    partials_path = os.path.join(tier_path, "_partials")
    spark = batch_df.sparkSession
    new = time_rollup(batch_df, time_col, value_col, every, groups)
    staged = new.withColumn(
        "p_date",
        F.date_trunc(partition_granularity, F.col("bucket_start")).cast("date"),
    ).withColumn("batch_id", F.lit(int(epoch_id)))
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        staged.write.mode("overwrite").partitionBy("batch_id", "p_date").parquet(
            partials_path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    touched = new.select(
        F.date_trunc(partition_granularity, F.col("bucket_start"))
        .cast("date")
        .alias("p_date")
    ).distinct()
    rebuilt = (
        spark.read.parquet(partials_path)
        .join(F.broadcast(touched), "p_date")  # partition-pruned journal read
        .groupBy("bucket_start", *groups)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
        )
    )
    upsert_rollup_tier(rebuilt, tier_path, partition_granularity)


def merge_session_fragments(frags: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Interval-union of per-batch session FRAGMENTS into final sessions.

    A fragment is (user, session_start, session_end = last_event + gap,
    n_events) with no internal gap ≥ the session gap — exactly what a
    batch ``session_window`` aggregation emits for one micro-batch. Two
    fragments belong to the same session iff the later one STARTS before
    the earlier one ENDS (its first event is within ``gap`` of the
    other's last event — the end already carries the gap), so the classic
    gaps-and-islands interval merge over (start, running-max end per
    user) reconstructs exactly the sessions a single-pass sessionization
    of ALL the events would produce; counts add because fragments
    partition the events. One shuffle on the user key; per-user state is
    the fragment list, bounded by batches × active users, never raw
    events."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy("session_start", "session_end")
    prev_end = F.max("session_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    sid = F.sum(
        F.when(prev_end.isNull() | (F.col("session_start") >= prev_end), 1)
        .otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        frags.withColumn("sid", sid)
        .groupBy(user_col, "sid")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("n_events").alias("n_events"),
        )
        .drop("sid")
    )


def absorb_session_batch(
    batch_df: DataFrame,
    epoch_id: int,
    tier_path: str,
    time_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    n_buckets: int = 16,
) -> None:
    """One epoch of journal-style SESSION absorption (the st06 core,
    module-level so replay semantics are directly testable — the
    ``absorb_rollup_batch`` analog for non-additive session state).

    Sessions can MERGE across micro-batches (a user active across the
    boundary), so unlike the rollup tier the chunks are keyed by USER
    bucket, not calendar date, and the rebuild is an interval merge, not
    a sum. Steps: (1) sessionize just this batch with a batch
    ``session_window`` agg → fragments; (2) stage them to
    ``tier/_frags/batch_id=<epoch>/u_bucket=…`` via dynamic partition
    overwrite — epoch replay rewrites the SAME journal partitions with
    the same content, never appends; (3) re-merge ALL staged fragments
    for only the user buckets this batch touched
    (``merge_session_fragments``) and dynamic-overwrite those tier
    partitions. The tier stays a pure function of the journal — a crash
    or at-least-once re-invocation re-derives identical bucket contents
    instead of double-counting, and untouched user buckets are never
    read or rewritten."""
    import os

    frags_path = os.path.join(tier_path, "_frags")
    spark = batch_df.sparkSession
    bucket = F.pmod(F.hash(F.col(user_col)), F.lit(n_buckets))
    frags = (
        batch_df.groupBy(
            F.col(user_col), F.session_window(F.col(time_col), gap).alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .withColumn("u_bucket", bucket)
        .withColumn("batch_id", F.lit(int(epoch_id)))
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        frags.write.mode("overwrite").partitionBy("batch_id", "u_bucket").parquet(
            frags_path
        )
        touched = (
            spark.read.parquet(frags_path)
            .where(F.col("batch_id") == int(epoch_id))
            .select("u_bucket")
            .distinct()
        )
        merged = merge_session_fragments(
            spark.read.parquet(frags_path)
            .join(F.broadcast(touched), "u_bucket")  # partition-pruned journal read
            .select(user_col, "session_start", "session_end", "n_events"),
            user_col,
        ).withColumn("u_bucket", bucket)
        merged.write.mode("overwrite").partitionBy("u_bucket").parquet(tier_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def start_session_absorb(
    events: DataFrame,
    tier_path: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    n_buckets: int = 16,
):
    """Streaming absorption of session state into a persisted per-user
    tier (st04's session windows × tr03's journal absorb): each
    micro-batch stages its session fragments and interval-merges the
    touched user buckets — restart-safe and replay-idempotent like the
    rollup tier, but correct for the NON-additive session semantics
    (cross-batch session merging happens in the rebuild, so a restart
    between batches cannot split or double-count a session). Returns the
    started StreamingQuery."""

    def _absorb(batch_df: DataFrame, epoch_id: int) -> None:
        absorb_session_batch(
            batch_df, epoch_id, tier_path, time_col, user_col, gap, n_buckets
        )

    return (
        events.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --- streaming drift monitor (st11) -----------------------------------------


def reference_histogram(
    reference: DataFrame, value_col: str, n_bins: int = 64
) -> tuple[list[float], dict[int, int], int]:
    """The fixed monitoring reference a production drift monitor
    broadcasts: exact interpolated quantile bin edges of the REFERENCE
    corpus (an06's vx02 percentile parity, so the gate can replay them)
    plus the reference's own per-bucket counts. Driver state is bounded
    at n_bins-1 edge doubles + <= n_bins (bucket, count) rows — that
    bounded table IS the design (the whole point of binned KS for
    streams). Returns (edges, bucket -> ref count, n_ref)."""
    vals = reference.select(F.col(value_col).cast("double").alias("v"))
    probs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    edges = vals.agg(
        F.expr(f"percentile(v, array({probs}))").alias("edges")
    ).first()["edges"]
    arr = F.array(*[F.lit(float(e)) for e in edges])
    per_b = (
        vals.select(
            F.size(F.filter(arr, lambda e: F.col("v") >= e)).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    counts = {int(r.bucket): int(r.cnt) for r in per_b}
    return [float(e) for e in edges], counts, sum(counts.values())


def stream_drift_bucket_counts(
    stream: DataFrame, edges: list[float], value_col: str = "value"
) -> DataFrame:
    """Streaming half of the drift monitor: bucket every arriving value
    by the broadcast literal edge array (one JVM-side size(filter(...))
    per row — no shuffle before the agg) and maintain per-bucket counts
    as a streaming aggregation. State is <= n_bins rows TOTAL regardless
    of stream volume — the bounded-state restatement of an03's
    distinct-value table, which a stream could never hold."""
    arr = F.array(*[F.lit(float(e)) for e in edges])
    return (
        stream.select(F.col(value_col).cast("double").alias("v"))
        .select(F.size(F.filter(arr, lambda e: F.col("v") >= e)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def drift_from_counts(
    obs_counts: DataFrame,
    ref_counts: dict[int, int],
    n_ref: int,
    critical_coeff: float = 1.358,
) -> DataFrame:
    """Monitor read-out: two-sample binned KS between the drained
    observed bucket counts and the broadcast reference histogram —
    an06's ECDF max-gap over <= n_bins cumulative rows, with the
    reference side a literal table. Output contract matches ks_drift:
    (n_obs, n_ref, ks_stat, critical, drift)."""
    from pyspark.sql import Window

    spark = obs_counts.sparkSession
    ref_df = spark.createDataFrame(
        [(int(b), int(c)) for b, c in sorted(ref_counts.items())],
        "bucket int, cb long",
    )
    per_b = (
        obs_counts.select("bucket", F.col("cnt").alias("ca"))
        .join(ref_df, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    totals = per_b.agg(F.sum("ca").alias("n_a"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_b.select(
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    ).crossJoin(F.broadcast(totals))
    nb = F.lit(int(n_ref)).cast("double")
    # nullif guards ANSI division (the an04/X113 discipline): an empty
    # observed stream reads out (n_obs=0, ks_stat/drift null), not an
    # ArithmeticException mid-monitor
    na = F.nullif(F.col("n_a"), F.lit(0))
    gap = F.abs(F.col("cum_a") / na - F.col("cum_b") / nb)
    crit = F.lit(critical_coeff) * F.sqrt(
        (F.nullif(F.first("n_a"), F.lit(0)) + nb)
        / (F.nullif(F.first("n_a"), F.lit(0)) * nb)
    )
    return ecdf.agg(
        F.first("n_a").cast("long").alias("n_obs"),
        F.lit(int(n_ref)).cast("long").alias("n_ref"),
        F.round(F.max(gap), 6).alias("ks_stat"),
        F.round(crit, 6).alias("critical"),
        (F.max(gap) > crit).alias("drift"),
    )


def start_ann_serving(
    queries_stream: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    k: int = 3,
    qid_col: str = "vec_id",
    qvec_col: str = "embedding",
    dim: int | None = None,
):
    """Streaming ANN serving (the streaming x similarity composition):
    each micro-batch of query vectors is answered in ONE pass and the
    per-query top-k lands in an epoch-keyed partition via dynamic
    overwrite — the journal discipline of ``start_rollup_absorb``, so
    at-least-once replay of an epoch rewrites the SAME partition with
    the same content instead of appending duplicates. Each batch is
    answered from the in-flight ``corpus`` (``batch_topk``, one GEMM
    corpus pass per batch). Returns the started StreamingQuery."""
    from querysight_spark.operators.similarity import batch_topk

    def _serve(batch_df: DataFrame, epoch_id: int) -> None:
        qs = batch_df.select(
            F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec")
        )
        if qs.limit(1).count() == 0:
            return
        res = batch_topk(corpus, qs, k=k, dim=dim, method="gemm").withColumn(
            "batch_id", F.lit(int(epoch_id))
        )
        (
            res.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    return (
        queries_stream.writeStream.foreachBatch(_serve)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_index_absorb(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming corpus ingest absorbed INCREMENTALLY into a persisted
    ``build_text_index_upsertable`` BM25 index (the streaming × ir09
    composition — the nightly-crawl shape run continuously): each
    micro-batch of new documents upserts in O(batch + touched termdf
    buckets); the base postings never rewrite.

    Replay safety is two-layered. DATA level: the index's own ``lens/``
    table IS the set of absorbed doc ids, so each batch drops in-batch
    duplicates and anti-joins lens before absorbing — a re-delivered
    file (at-least-once sources) re-absorbs nothing. TXN level: the
    upsert itself is multi-write, so each epoch passes a (query id,
    batch id) txn_id and ``upsert_text_index`` makes the absorb
    crash-atomic — a foreachBatch retry of an epoch that died BETWEEN
    the index's writes rolls the partial attempt back and republishes,
    instead of trusting the lens anti-join (which lands mid-sequence
    and can miss a half-absorbed batch). The upsert contract ("delta
    ids must be new") is therefore enforced here rather than assumed.
    At 100 TB, bucket lens by the id for a co-located anti-join; the
    absorb path is unchanged. Returns the started StreamingQuery."""
    import json
    import os

    from querysight_spark.operators.search import upsert_text_index

    def _query_id() -> str:
        # written by the engine at query start, stable across restarts
        # on the same checkpoint (the start_versioned_sink discipline)
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            return json.load(f)["id"]

    def _absorb(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        seen = spark.read.parquet(f"{index_path}/lens").select(id_col)
        fresh = (
            batch_df.select(id_col, text_col)
            .dropDuplicates([id_col])
            .join(seen, id_col, "left_anti")
        )
        if fresh.limit(1).count() == 0:
            return
        upsert_text_index(
            spark, index_path, fresh, id_col, text_col,
            txn_id=f"{_query_id()}:{epoch_id}",
        )

    return (
        docs_stream.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def latest_served_topk(spark, out_path: str) -> DataFrame:
    """Read-out for ``start_ann_serving``: the LATEST epoch's answer per
    query id (a re-queried vector supersedes its earlier answer; a
    replayed epoch is content-identical by the journal contract). One
    small agg over the epoch-partitioned results, partition-pruned reads
    throughout."""
    rows = spark.read.parquet(out_path)
    latest = rows.groupBy("qid").agg(F.max("batch_id").alias("batch_id"))
    return rows.join(latest, ["qid", "batch_id"]).select(
        "qid", "rk", "vec_id", "cosine"
    )
