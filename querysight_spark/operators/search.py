"""Full-text relevance scoring over the documents table: inverted index,
BM25 top-k, TF-IDF scoring, and a corpus unigram language-model score.

All pure DataFrame ops — explode → groupBy builds the postings (one
shuffle), query terms are filtered BEFORE the shuffle so a k-term query
touches only k posting lists, and corpus stats (N, avgdl, vocab counts)
are single-row or vocab-sized aggregates joined back via broadcast. At
100 TB the postings build is a one-time indexing pass; a query is a
k-posting-list lookup + tiny agg — the classic search-engine shape.

Float determinism: per-term score contributions are identical expression
trees in Spark and DuckDB, and the per-doc sum is a left fold over the
term-sorted contribution list (``F.aggregate`` here, ``list_reduce`` in
the oracle) — bit-identical IEEE sequences, so results hash-match after a
final display round. (Same strategy as ``operators/vectors.py``.)

The reference has no search operator (its closest surface is the LIKE /
keyword-tag filters, ``utils/models.py`` pattern matching); this family
is part of the training-data-pipeline extension mandated by the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _doc_lengths(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("dl")
    )


def term_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted-index postings: one row per (term, doc) with the term
    frequency. One explode + one groupBy shuffle, partitioned by
    (term, doc) — the build step for every scorer below."""
    return (
        df.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
        )
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _fold_sum(contrib_struct_col, value_field: str):
    """Left-fold sum over an array of (term, value) structs sorted by term —
    deterministic addition order shared with the DuckDB oracle's
    ``list_reduce(list(value ORDER BY term), ...)``."""
    ordered = F.transform(
        F.array_sort(contrib_struct_col), lambda s: s[value_field]
    )
    return F.aggregate(ordered, F.lit(0.0), lambda acc, v: acc + v)


def _bm25_from_parts(
    post: DataFrame,
    lens: DataFrame,
    stats: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared BM25 scoring tail: ``post`` carries (term, id, tf, df_t),
    ``lens`` (id, dl), ``stats`` one row (n_docs, avgdl). One expression
    tree — the in-flight and persisted-index paths both end here, so
    their scores are bit-identical by construction."""
    scored = (
        post.crossJoin(F.broadcast(stats))
        .join(lens, id_col)
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.round(
            _fold_sum(F.collect_list(F.struct("term", "contrib")), "contrib"), 6
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    return per_doc.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k: idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    tf-part = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Plan shape: postings filtered to the query's terms before the shuffle
    (a k-term query aggregates k posting lists, not the corpus), corpus
    stats as a 1×1 broadcast, doc lengths joined on the doc key, global
    top-k via TakeOrderedAndProject (sort key = rounded score, ties by
    id — fully deterministic). No driver-side collect anywhere."""
    # lens feeds the corpus stats AND the per-doc join; localCheckpoint
    # (not a session-lived persist) materializes the tiny (id, dl) table
    # once without leaking cached blocks past this query
    lens = _doc_lengths(df, id_col, text_col).localCheckpoint(eager=True)
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    # df_t: docs containing the term, counted over the filtered postings
    # (window on term shares the postings exchange — no extra shuffle)
    from pyspark.sql.window import Window

    post = (
        term_postings(df, id_col, text_col)
        .where(F.col("term").isin(query_terms))
        .withColumn("df_t", F.count(F.lit(1)).over(Window.partitionBy("term")))
    )
    return _bm25_from_parts(post, lens, stats, k, k1, b, id_col)


def build_text_index(
    df: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Persist the inverted index: postings (term, id, tf, df_t —
    document frequency denormalized at build so probes never re-count),
    doc lengths, and the 1-row corpus stats. Index once, query many —
    the search-engine counterpart of the persisted ANN indexes. Postings
    land sorted/clustered by term so a term-IN predicate prunes row
    groups via footer min/max stats."""
    from pyspark.sql.window import Window

    from pyspark.storagelevel import StorageLevel

    # lens feeds the corpus stats AND the per-doc join; persist the tiny
    # (id, dl) table so the raw corpus isn't re-scanned per consumer
    lens = _doc_lengths(df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    post = term_postings(df, id_col, text_col).withColumn(
        "df_t", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    (
        post.repartitionByRange(8, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{path}/postings")
    )
    lens.write.mode("overwrite").parquet(f"{path}/lens")
    stats.write.mode("overwrite").parquet(f"{path}/stats")
    lens.unpersist()


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 probe over a persisted index: a term-IN filtered postings
    scan (pushed to parquet, row groups pruned by the term-sorted
    layout), the tiny stats broadcast, and the SAME scoring tail as the
    in-flight path — scores are bit-identical to bm25_topk on the corpus
    the index was built from. Probe cost is O(matched postings), not
    O(corpus)."""
    from querysight_spark.sources.catalog import read_parquet_known_schema

    # r15: schema-memoized reads — one probe paid THREE per-call footer
    # inferences (~0.1 s each of driver latency); invalidates on rewrite
    post = (
        read_parquet_known_schema(spark, f"{path}/postings")
        .where(F.col("term").isin(query_terms))
    )
    lens = read_parquet_known_schema(spark, f"{path}/lens")
    stats = read_parquet_known_schema(spark, f"{path}/stats")
    return _bm25_from_parts(post, lens, stats, k, k1, b, id_col)


def _term_bucket_col(n_buckets: int):
    """Deterministic engine-portable term→bucket hash (first 8 md5 hex
    digits mod N — the shard_layout/tx25 discipline): replicable in
    plain Python for driver-side probe pruning and in SQL for oracles."""
    return (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def _term_bucket_py(term: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def _doc_bucket_col(id_col: str, n_buckets: int):
    """Same md5 bucket function keyed on the doc id (string form) — the
    forward index's partition key."""
    return (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % n_buckets
    )


def build_text_index_upsertable(
    df: DataFrame,
    path: str,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the UPSERT-ABLE inverted index — the ss13/dd09 delta
    discipline applied to full-text search. The rebuild-style index
    (``build_text_index``) denormalizes df_t onto every posting row,
    which is probe-optimal but makes any corpus append rewrite every
    posting of every touched term; at 100 TB a nightly crawl delta would
    rewrite most of the index. This layout instead NORMALIZES the
    update-hot value:

    - ``postings/``  (term, id, tf), partitioned by ``term_bucket`` —
      append-only forever; delta files land inside matching bucket
      directories and probes prune by bucket.
    - ``termdf/``    (term, df_t), same bucket partitioning — the only
      piece an upsert rewrites, vocabulary-sized (one row per distinct
      term), and only the buckets the delta touches.
    - ``forward/``   (id, term, tf), partitioned by ``doc_bucket`` — the
      forward half of the classic inverted+forward dual (what Lucene
      stores as term vectors): the extra copy is the price of O(deleted
      docs) DELETES (``delete_from_text_index`` reads only the deleted
      ids' buckets to learn which df_t counts to decrement).
    - ``lens/``      (id, dl) — append-only.
    - ``stats/``     1 row (n_docs, avgdl) — O(1) incremental merge.
    - ``deletes/``   (id) tombstones, created by the first delete —
      probes anti-join it.

    Probes join df_t back from the tiny filtered termdf side (broadcast),
    so scores stay bit-identical to the rebuild index and ``bm25_topk``."""
    import json
    import os

    from pyspark.storagelevel import StorageLevel

    lens = _doc_lengths(df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        # exact integer token total: incremental stats merges add/
        # subtract this and DERIVE avgdl, so repeated upserts/deletes
        # accumulate zero float drift (scores stay bit-identical to a
        # rebuild at any delta depth)
        F.sum("dl").cast("long").alias("total_dl"),
    )
    # three consumers (postings, forward, termdf) — materialize the
    # tokenize+count once instead of re-executing it per write
    post = (
        term_postings(df, id_col, text_col)
        .withColumn("term_bucket", _term_bucket_col(n_buckets))
        .localCheckpoint(eager=True)
    )
    (
        post.repartition("term_bucket")
        .sortWithinPartitions("term")
        .write.partitionBy("term_bucket")
        .mode("overwrite")
        .parquet(f"{path}/postings")
    )
    (
        post.drop("term_bucket")
        .withColumn("doc_bucket", _doc_bucket_col(id_col, n_buckets))
        .repartition("doc_bucket")
        .sortWithinPartitions(id_col)
        .write.partitionBy("doc_bucket")
        .mode("overwrite")
        .parquet(f"{path}/forward")
    )
    termdf = (
        post.groupBy("term_bucket", "term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    (
        termdf.repartition("term_bucket")
        .sortWithinPartitions("term")
        .write.partitionBy("term_bucket")
        .mode("overwrite")
        .parquet(f"{path}/termdf")
    )
    lens.write.mode("overwrite").parquet(f"{path}/lens")
    stats.write.mode("overwrite").parquet(f"{path}/stats")
    lens.unpersist()
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/_index_meta.json", "w") as f:
        json.dump({"n_buckets": n_buckets}, f)


def _txn_paths(path: str, txn_id: str) -> tuple[str, str, str, str]:
    """(commit marker, pending pre-listing, stage dir, stage-done marker)
    for one index-maintenance transaction."""
    import os

    d = os.path.join(path, "txns")
    return (
        os.path.join(d, f"{txn_id}.json"),
        os.path.join(d, f"{txn_id}.pending.json"),
        os.path.join(d, f"{txn_id}.stage"),
        os.path.join(d, f"{txn_id}.stage.done.json"),
    )


def _dir_listing(path: str, subs: list[str]) -> dict[str, list[str]]:
    """Relative parquet-file listing of each append-only subdir — the
    pre-write snapshot a crashed transaction rolls back to."""
    import os

    out: dict[str, list[str]] = {}
    for sub in subs:
        root = os.path.join(path, sub)
        names = []
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                if name.endswith(".parquet"):
                    names.append(
                        os.path.relpath(os.path.join(dirpath, name), root)
                    )
        out[sub] = sorted(names)
    return out


def _rollback_strays(path: str, listing: dict[str, list[str]]) -> None:
    """Delete parquet files a crashed attempt appended (present on disk,
    absent from the pre-write listing) — append rollback; destructive
    pieces republish from the immutable stage instead."""
    import os

    for sub, names in listing.items():
        keep = set(names)
        root = os.path.join(path, sub)
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                if os.path.relpath(full, root) not in keep:
                    os.unlink(full)


def _atomic_json(target: str, payload: dict) -> None:
    import json
    import os
    import uuid

    os.makedirs(os.path.dirname(target), exist_ok=True)
    tmp = target + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, target)


def _stats_total(s_old) -> int:
    """Exact token total from a stats row: the integer ``total_dl`` when
    the index carries it, else reconstructed once from avgdl x n_docs
    (pre-upgrade indexes; exact thereafter since we write total_dl)."""
    d = s_old.asDict()
    if d.get("total_dl") is not None:
        return int(d["total_dl"])
    return round(float(d["avgdl"]) * int(d["n_docs"]))


def upsert_text_index(
    spark,
    path: str,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    txn_id: str | None = None,
) -> int:
    """Absorb a DELTA corpus into a ``build_text_index_upsertable``
    layout in O(delta + affected termdf buckets) — the corpus postings
    never rewrite:

    1. delta postings APPEND into their ``term_bucket=`` directories;
    2. df_t for the delta's terms merges into termdf — only the buckets
       the delta touches are read, merged (old count + delta count), and
       dynamically overwritten (untouched buckets' files stay put);
    3. lens appends; stats merges incrementally from the old 1-row stats
       and the delta's own summary (no corpus re-scan anywhere), on the
       exact integer token total (zero drift across deltas).

    Delta doc ids must be NEW (append-only corpus — the ss13/dd09 delta
    contract); re-delivering an existing id double-counts it, so feed
    re-pushed dumps through a dedup stage (st03/st07) first. Returns the
    number of delta documents absorbed.

    ``txn_id`` makes the multi-write upsert CRASH-ATOMIC (the versioned
    table's txn discipline): a committed txn no-ops on retry, and a
    retry of a CRASHED attempt first rolls back its partial appends
    (pre-write file listing) and republishes the destructive pieces
    from an immutable stage computed before any live write — so a
    foreachBatch replay can never duplicate postings or double-count
    df_t. Without ``txn_id`` the five writes are NOT atomic: a crash
    between them leaves a partially absorbed delta, and replay safety
    falls to the caller (``start_index_absorb`` passes a per-epoch
    txn id for exactly this reason)."""
    import json
    import os
    import shutil

    with open(f"{path}/_index_meta.json") as f:
        n_buckets = json.load(f)["n_buckets"]
    # two consumers each (write + merge / stats) — localCheckpoint, not a
    # session-lived persist (the r5 cache-hygiene discipline), and it
    # also breaks the read-modify-write cycle on termdf below
    delta_lens = _doc_lengths(delta, id_col, text_col).localCheckpoint(
        eager=True
    )
    delta_post = (
        term_postings(delta, id_col, text_col)
        .withColumn("term_bucket", _term_bucket_col(n_buckets))
        .localCheckpoint(eager=True)
    )
    if txn_id is not None:
        commit_p, pending_p, stage_p, done_p = _txn_paths(path, txn_id)
        if os.path.exists(commit_p):
            with open(commit_p) as f:
                return int(json.load(f)["count"])
        if os.path.exists(pending_p):
            # crashed attempt: roll its partial appends back first (the
            # listing carries its own scoped sub-paths)
            with open(pending_p) as f:
                _rollback_strays(path, json.load(f))
        else:
            # scope the pre-write listing to the DELTA's bucket
            # directories (+ the flat lens dir): a replayed epoch's
            # strays can only live where its own appends land, so the
            # snapshot stays O(delta buckets), not O(index files)
            tb = [
                r.term_bucket
                for r in delta_post.select("term_bucket").distinct().collect()
            ]
            db = [
                r.db
                for r in delta_post.select(
                    _doc_bucket_col(id_col, n_buckets).alias("db")
                ).distinct().collect()
            ]
            subs = (
                [f"postings/term_bucket={b}" for b in sorted(tb)]
                + [f"forward/doc_bucket={b}" for b in sorted(db)]
                + ["lens"]
            )
            _atomic_json(pending_p, _dir_listing(path, subs))
    if txn_id is not None and os.path.exists(done_p):
        # stage survives from the crashed attempt — computed from the
        # pre-write state, so it is the correct final image no matter
        # how far the crashed publication got
        merged = spark.read.parquet(os.path.join(stage_p, "termdf"))
        new_stats = spark.read.parquet(os.path.join(stage_p, "stats"))
        with open(done_p) as f:
            n_delta = int(json.load(f)["count"])
    else:
        affected = [
            r.term_bucket
            for r in delta_post.select("term_bucket").distinct().collect()
        ]
        delta_df_t = delta_post.groupBy("term_bucket", "term").agg(
            F.count(F.lit(1)).alias("d")
        )
        old = (
            spark.read.parquet(f"{path}/termdf")
            .where(F.col("term_bucket").isin(affected))
            .select("term_bucket", "term", "df_t")
        )
        merged = (
            old.join(delta_df_t, ["term_bucket", "term"], "full")
            .select(
                "term_bucket",
                "term",
                (
                    F.coalesce(F.col("df_t"), F.lit(0))
                    + F.coalesce(F.col("d"), F.lit(0))
                ).alias("df_t"),
            )
            .localCheckpoint(eager=True)  # materialize BEFORE overwrite
        )
        s_old = spark.read.parquet(f"{path}/stats").collect()[0]
        s_new = delta_lens.agg(
            F.count(F.lit(1)).alias("dn"), F.sum("dl").alias("dsum")
        ).collect()[0]
        n = int(s_old.n_docs) + int(s_new.dn)
        total = _stats_total(s_old) + int(s_new.dsum or 0)
        new_stats = spark.createDataFrame(
            [(n, total / n, total)],
            "n_docs bigint, avgdl double, total_dl bigint",
        )
        n_delta = int(s_new.dn)
        if txn_id is not None:
            merged.write.mode("overwrite").parquet(
                os.path.join(stage_p, "termdf")
            )
            new_stats.write.mode("overwrite").parquet(
                os.path.join(stage_p, "stats")
            )
            _atomic_json(done_p, {"count": n_delta})
            merged = spark.read.parquet(os.path.join(stage_p, "termdf"))
            new_stats = spark.read.parquet(os.path.join(stage_p, "stats"))
    (
        delta_post.repartition("term_bucket")
        .sortWithinPartitions("term")
        .write.partitionBy("term_bucket")
        .mode("append")
        .parquet(f"{path}/postings")
    )
    (
        delta_post.drop("term_bucket")
        .withColumn("doc_bucket", _doc_bucket_col(id_col, n_buckets))
        .repartition("doc_bucket")
        .sortWithinPartitions(id_col)
        .write.partitionBy("doc_bucket")
        .mode("append")
        .parquet(f"{path}/forward")
    )
    delta_lens.write.mode("append").parquet(f"{path}/lens")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition("term_bucket")
            .sortWithinPartitions("term")
            .write.partitionBy("term_bucket")
            .mode("overwrite")
            .parquet(f"{path}/termdf")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    new_stats.write.mode("overwrite").parquet(f"{path}/stats")
    if txn_id is not None:
        _atomic_json(commit_p, {"count": n_delta})
        os.unlink(pending_p)
        shutil.rmtree(stage_p, ignore_errors=True)
        os.unlink(done_p)
    return n_delta


def delete_from_text_index(
    spark,
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
    txn_id: str | None = None,
) -> int:
    """Right-to-be-forgotten for the upsertable index in O(deleted docs
    + touched termdf buckets) — the corpus postings never rewrite:

    1. the deleted ids' term lists come from ``forward/`` reading ONLY
       the ids' ``doc_bucket=`` partitions (never a postings scan);
    2. df_t decrements merge into the touched termdf buckets (dynamic
       overwrite; terms whose count reaches 0 drop out);
    3. stats decrement O(1) — each deleted doc's dl is the sum of its
       forward tf row group, no lens scan;
    4. the ids append to ``deletes/`` tombstones; probes anti-join them
       (postings/forward/lens keep the rows).

    Idempotent at the DATA level (the st13 discipline): ids already
    tombstoned — or never indexed — are dropped before any counting, so
    a re-delivered delete request decrements nothing twice. A deleted id
    must never be re-upserted (tombstones are forever; the upsert
    contract already requires globally-new ids). Returns the number of
    documents actually deleted.

    ``txn_id``: same crash-atomicity discipline as ``upsert_text_index``
    — a committed delete no-ops on retry; a crashed attempt rolls back
    its partial tombstone append and republishes termdf/stats from the
    immutable stage. Without it the tombstone append lands FIRST (the
    data-level marker), so a crash between writes leaves df_t counts
    conservatively high rather than double-decremented, and a retry
    re-absorbs nothing."""
    import json
    import os
    import shutil

    with open(f"{path}/_index_meta.json") as f:
        n_buckets = json.load(f)["n_buckets"]
    if txn_id is not None:
        commit_p, pending_p, stage_p, done_p = _txn_paths(path, txn_id)
        if os.path.exists(commit_p):
            with open(commit_p) as f:
                return int(json.load(f)["count"])
        if os.path.exists(pending_p):
            with open(pending_p) as f:
                _rollback_strays(path, json.load(f))
        else:
            _atomic_json(pending_p, _dir_listing(path, ["deletes"]))
    if txn_id is not None and os.path.exists(done_p):
        merged = spark.read.parquet(os.path.join(stage_p, "termdf"))
        new_stats = spark.read.parquet(os.path.join(stage_p, "stats"))
        gone_ids = spark.read.parquet(os.path.join(stage_p, "tombstones"))
        with open(done_p) as f:
            n_del = int(json.load(f)["count"])
    else:
        todo = ids.select(F.col(id_col)).distinct()
        if os.path.exists(f"{path}/deletes"):
            done = spark.read.parquet(f"{path}/deletes").select(id_col)
            todo = todo.join(done, id_col, "left_anti")
        todo = todo.withColumn(
            "doc_bucket", _doc_bucket_col(id_col, n_buckets)
        ).localCheckpoint(eager=True)
        doc_buckets = [
            r.doc_bucket
            for r in todo.select("doc_bucket").distinct().collect()
        ]
        if not doc_buckets:
            if txn_id is not None:
                _atomic_json(commit_p, {"count": 0})
                os.unlink(pending_p)
            return 0
        fwd = (
            spark.read.parquet(f"{path}/forward")
            .where(F.col("doc_bucket").isin(doc_buckets))
            .join(todo.select(id_col), id_col, "left_semi")  # indexed ids
            .localCheckpoint(eager=True)  # df_t dec, stats, tombstones
        )
        dec = (
            fwd.withColumn("term_bucket", _term_bucket_col(n_buckets))
            .groupBy("term_bucket", "term")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        affected = [
            r.term_bucket
            for r in dec.select("term_bucket").distinct().collect()
        ]
        old = (
            spark.read.parquet(f"{path}/termdf")
            .where(F.col("term_bucket").isin(affected))
            .select("term_bucket", "term", "df_t")
        )
        merged = (
            old.join(dec, ["term_bucket", "term"], "left")
            .select(
                "term_bucket",
                "term",
                (
                    F.col("df_t") - F.coalesce(F.col("d"), F.lit(0))
                ).alias("df_t"),
            )
            .where(F.col("df_t") > 0)
            .localCheckpoint(eager=True)  # materialize BEFORE overwrite
        )
        gone = fwd.groupBy(id_col).agg(F.sum("tf").alias("dl"))
        s_del = gone.agg(
            F.count(F.lit(1)).alias("dn"), F.sum("dl").alias("dsum")
        ).collect()[0]
        n_del = int(s_del.dn)
        if not n_del:
            if txn_id is not None:
                _atomic_json(commit_p, {"count": 0})
                os.unlink(pending_p)
            return 0
        s_old = spark.read.parquet(f"{path}/stats").collect()[0]
        n = int(s_old.n_docs) - n_del
        total = _stats_total(s_old) - int(s_del.dsum)
        new_stats = spark.createDataFrame(
            [(n, total / n if n else 0.0, total)],
            "n_docs bigint, avgdl double, total_dl bigint",
        )
        gone_ids = gone.select(id_col).localCheckpoint(eager=True)
        if txn_id is not None:
            merged.write.mode("overwrite").parquet(
                os.path.join(stage_p, "termdf")
            )
            new_stats.write.mode("overwrite").parquet(
                os.path.join(stage_p, "stats")
            )
            gone_ids.write.mode("overwrite").parquet(
                os.path.join(stage_p, "tombstones")
            )
            _atomic_json(done_p, {"count": n_del})
            merged = spark.read.parquet(os.path.join(stage_p, "termdf"))
            new_stats = spark.read.parquet(os.path.join(stage_p, "stats"))
            gone_ids = spark.read.parquet(
                os.path.join(stage_p, "tombstones")
            )
    # tombstones FIRST: they are the data-level idempotency marker, so a
    # crash mid-sequence leaves a retry decrementing nothing twice
    gone_ids.write.mode("append").parquet(f"{path}/deletes")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition("term_bucket")
            .sortWithinPartitions("term")
            .write.partitionBy("term_bucket")
            .mode("overwrite")
            .parquet(f"{path}/termdf")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    new_stats.write.mode("overwrite").parquet(f"{path}/stats")
    if txn_id is not None:
        _atomic_json(commit_p, {"count": n_del})
        os.unlink(pending_p)
        shutil.rmtree(stage_p, ignore_errors=True)
        os.unlink(done_p)
    return n_del


def bm25_topk_upsertable(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 probe over the upsertable layout: query terms hash to their
    buckets DRIVER-SIDE (the md5 bucket function is plain Python), so
    both the postings and termdf scans carry a ``term_bucket IN (...)``
    partition filter that prunes whole directories before IO, then the
    term-IN predicate prunes row groups inside them (term-sorted files).
    df_t joins back from the k-term filtered termdf side (broadcast) and
    the scoring tail is the shared one — scores are bit-identical to
    ``bm25_topk`` over base ∪ every absorbed delta, minus every
    tombstoned delete (the anti-join runs AFTER the term-IN filter, so
    it touches matched candidates, not the corpus)."""
    import json
    import os

    with open(f"{path}/_index_meta.json") as f:
        n_buckets = json.load(f)["n_buckets"]
    from querysight_spark.sources.catalog import read_parquet_known_schema

    buckets = sorted({_term_bucket_py(t, n_buckets) for t in query_terms})
    # r15: schema-memoized reads (up to five footer inferences per probe)
    post = (
        read_parquet_known_schema(spark, f"{path}/postings")
        .where(F.col("term_bucket").isin(buckets))
        .where(F.col("term").isin(query_terms))
        .drop("term_bucket")
    )
    if os.path.exists(f"{path}/deletes"):
        post = post.join(
            read_parquet_known_schema(spark, f"{path}/deletes"),
            id_col,
            "left_anti",
        )
    termdf = (
        read_parquet_known_schema(spark, f"{path}/termdf")
        .where(F.col("term_bucket").isin(buckets))
        .where(F.col("term").isin(query_terms))
        .select("term", "df_t")
    )
    post = post.join(F.broadcast(termdf), "term")
    lens = read_parquet_known_schema(spark, f"{path}/lens")
    stats = read_parquet_known_schema(spark, f"{path}/stats")
    return _bm25_from_parts(post, lens, stats, k, k1, b, id_col)


def tfidf_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classic tf-idf accumulation for every doc matching ≥1 query term:
    score = Σ_t tf(t,d) · ln(N / df(t)). Same filtered-postings plan as
    BM25 minus the length normalization."""
    from pyspark.sql.window import Window

    lens = _doc_lengths(df, id_col, text_col)
    n_docs = lens.agg(F.count(F.lit(1)).alias("n_docs"))
    post = (
        term_postings(df, id_col, text_col)
        .where(F.col("term").isin(query_terms))
        .withColumn("df_t", F.count(F.lit(1)).over(Window.partitionBy("term")))
    )
    scored = post.crossJoin(F.broadcast(n_docs)).withColumn(
        "contrib",
        F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")),
    )
    return scored.groupBy(id_col).agg(
        F.round(
            _fold_sum(F.collect_list(F.struct("term", "contrib")), "contrib"), 6
        ).alias("tfidf"),
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum("tf").alias("total_tf"),
    )


def bigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc mean CONDITIONAL log-probability under the corpus bigram
    model — one step closer to real perplexity filtering than the
    unigram score: mean_lp(d) = (Σ_bigrams ln(c(w1 w2) / c_left(w1)))
    / (n_tokens − 1), where c(w1 w2) is the corpus bigram count and
    c_left(w1) counts w1 as a bigram left-context. Docs shorter than 2
    tokens are excluded (no bigrams to condition on).

    Same plan family as the unigram scorer: one bigram explode, a
    vocab-sized groupBy for the model, an equi-join back, ordered-fold
    sums. The bigram vocabulary is larger than the unigram one but still
    ≪ corpus at scale; sharded by the groupBy like any shuffle."""
    bi = F.expr(
        f"transform(array(split(`{text_col}`, ' ')), w -> "
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) "
        "ELSE array() END)[0]"
    )
    toks = df.select(F.col(id_col), F.explode(bi).alias("bg"))
    doc_tf = toks.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("tf"))
    model = toks.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    left = (
        toks.select(F.split("bg", " ")[0].alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("lcnt"))
    )
    contrib = (
        doc_tf.join(model, "bg")
        .withColumn("w1", F.split("bg", " ")[0])
        .join(left, "w1")
        .withColumn(
            "contrib", F.col("tf") * F.log(F.col("cnt") / F.col("lcnt"))
        )
    )
    lens = _doc_lengths(df, id_col, text_col)
    return (
        contrib.groupBy(id_col)
        .agg(
            _fold_sum(F.collect_list(F.struct("bg", "contrib")), "contrib").alias(
                "lp_sum"
            )
        )
        .join(lens, id_col)
        .select(
            F.col(id_col),
            F.col("dl").alias("n_tokens"),
            F.round(F.col("lp_sum") / (F.col("dl") - F.lit(1)), 6).alias(
                "mean_bigram_logprob"
            ),
        )
    )


def unigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc mean log-probability under the corpus unigram model — the
    cheap stand-in for perplexity-based quality filtering (KenLM-style):
    mean_lp(d) = (Σ_w tf(w,d) · ln(cnt(w)/T)) / dl(d).

    cnt(w) is the corpus-wide count, T the total token count. The vocab
    table is one groupBy over the exploded corpus (vocab ≪ corpus, so at
    scale the doc-term → vocab join broadcasts or shuffles on a small
    relation). Deterministic fold over word-sorted contributions."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    doc_tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total_toks"))
    lens = _doc_lengths(df, id_col, text_col)
    contrib = (
        doc_tf.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "contrib",
            F.col("tf") * F.log(F.col("cnt") / F.col("total_toks")),
        )
    )
    return (
        contrib.groupBy(id_col)
        .agg(
            _fold_sum(
                F.collect_list(F.struct("term", "contrib")), "contrib"
            ).alias("lp_sum")
        )
        .join(lens, id_col)
        .select(
            F.col(id_col),
            F.col("dl").alias("n_tokens"),
            F.round(F.col("lp_sum") / F.col("dl"), 6).alias("mean_logprob"),
        )
    )


def positional_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted-index postings: one row per (term, doc,
    position). The layout phrase and proximity queries need — tf-only
    postings can rank but can never verify adjacency. One posexplode;
    roughly dl rows per doc (the classic ~2-3x positional-index size
    tax over tf postings)."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    )


def phrase_match(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase retrieval over positional postings: the phrase's
    terms are matched by equi-joining postings on (doc, consecutive
    positions) — term k of the phrase at position p+k. Returns (doc,
    n_occurrences, first_pos).

    Plan shape: the first (rarest would be better; first is simplest and
    deterministic) term's postings anchor the join; each subsequent term
    joins on (doc, pos + k) — ALL equi-joins, so Catalyst shuffles on
    (doc, pos) once per term with no theta-join blowup. At index scale
    the same joins run against the persisted positional table instead of
    the in-flight explode."""
    words = phrase.split(" ")
    post = positional_postings(df, id_col, text_col)
    anchor = (
        post.where(F.col("term") == words[0])
        .select(F.col(id_col), F.col("pos").alias("p0"))
    )
    cur = anchor
    for k, w in enumerate(words[1:], start=1):
        nxt = post.where(F.col("term") == w).select(
            F.col(id_col), (F.col("pos") - k).alias("p0")
        )
        cur = cur.join(nxt, [id_col, "p0"])
    return cur.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("p0").alias("first_pos"),
    )


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k PMI collocations over the corpus bigram stream: for each
    bigram (w1 w2), pmi = ln(c(w1 w2) * N / (c_left(w1) * c_right(w2)))
    where N is the total bigram count and c_left/c_right count the word
    as a bigram left/right context. High-PMI pairs are multiword units
    ("new york") — a curation signal for tokenizer vocab building and
    boilerplate detection. ``min_count`` floors c(w1 w2) so rare
    coincidences don't dominate (textbook PMI failure mode).

    All counts are exact integers; products stay in int64 (< 2^53), so
    the single double division + ln is engine-reproducible (the ir06 ln
    parity). Plan: the raw bigram stream feeds exactly ONE hash agg (the
    bigram-type counts); left/right/total counts all derive from that
    vocab-sized table as weighted re-aggregations, so the heavy explode
    exchange happens once with no persist to leak. The tail is
    orderBy().limit(k) — TakeOrderedAndProject (per-partition top-k
    merged on the driver), never a single-partition row_number window;
    the total order (pmi desc, bigram) is the same, so results are
    hash-identical to the windowed formulation."""
    bi = F.expr(
        f"transform(array(split(`{text_col}`, ' ')), w -> "
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) "
        "ELSE array() END)[0]"
    )
    # ONE pass over the corpus: bigram-type counts. Everything else is a
    # re-aggregation of this (much smaller) table, re-derived per branch —
    # recomputing a vocab-sized hash agg beats holding the token-stream
    # cache alive for the session (the r4 persist-leak finding).
    model = (
        df.select(F.explode(bi).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .localCheckpoint(eager=True)  # 4 consumers; truncate + materialize
    )
    left = (
        model.groupBy(F.split("bg", " ")[0].alias("w1"))
        .agg(F.sum("c_pair").alias("c_left"))
    )
    right = (
        model.groupBy(F.split("bg", " ")[1].alias("w2"))
        .agg(F.sum("c_pair").alias("c_right"))
    )
    total = model.agg(F.sum("c_pair").alias("n_bigrams"))
    scored = (
        model.where(F.col("c_pair") >= min_count)
        .withColumn("w1", F.split("bg", " ")[0])
        .withColumn("w2", F.split("bg", " ")[1])
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("bg").alias("bigram"),
            "c_pair",
            "c_left",
            "c_right",
            F.round(
                F.log(
                    (F.col("c_pair") * F.col("n_bigrams")).cast("double")
                    / (F.col("c_left") * F.col("c_right")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("bigram")).limit(k)


def ranking_metrics(
    ranked: DataFrame,
    relevant: DataFrame,
    query_col: str = "query",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """Offline ranking evaluation: given a (query, doc, rank) ranking and
    a (query, doc) relevance ground truth, emit per query

      - n_relevant   — truth-set size
      - precision_at_k
      - mrr          — 1 / rank of the first relevant result (0 if the
                       ranking never surfaces a relevant doc)
      - ndcg_at_k    — binary-gain DCG / ideal DCG, ideal = the best
                       arrangement of min(n_relevant, k) hits

    The retrieval-quality scoreboard for the ir* stack: run it per index
    variant / parameter sweep and regressions show up as metric drops,
    the same role the recall floors play for the ANN family. All inputs
    are exact integers + one log2 per hit (engine-parity like ln); one
    broadcast-join of the truth set, one agg per query."""
    r = ranked.select(
        F.col(query_col).alias("q"),
        F.col(doc_col).alias("d"),
        F.col(rank_col).alias("rnk"),
    )
    t = relevant.select(
        F.col(query_col).alias("q"), F.col(doc_col).alias("d")
    ).withColumn("rel", F.lit(1))
    j = r.join(F.broadcast(t), ["q", "d"], "left").select(
        "q", "rnk", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    n_rel = t.groupBy("q").agg(F.count(F.lit(1)).alias("n_relevant"))
    agg = j.groupBy("q").agg(
        (
            F.sum(F.when((F.col("rnk") <= k) & (F.col("rel") == 1), 1).otherwise(0))
            / float(k)
        ).alias("precision_at_k"),
        F.coalesce(
            1.0 / F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0.0)
        ).alias("mrr"),
        # hit ranks sorted, DCG as an ordered fold — a plain SUM of the
        # log terms would be partial-agg order-dependent in the last bits
        F.array_sort(
            F.collect_list(
                F.when((F.col("rnk") <= k) & (F.col("rel") == 1), F.col("rnk"))
            )
        ).alias("hit_ranks"),
    )
    dcg = F.expr(
        "aggregate(hit_ranks, 0.0D, "
        "(acc, r) -> acc + 1.0D / log2(double(r) + 1.0D))"
    ).alias("dcg")
    out = agg.select("q", "precision_at_k", "mrr", dcg).join(n_rel, "q")
    ideal = F.expr(
        f"aggregate(sequence(1, int(least(n_relevant, {k}))), 0.0D, "
        f"(acc, i) -> acc + 1.0D / log2(double(i) + 1.0D))"
    )
    return out.select(
        F.col("q").alias(query_col),
        "n_relevant",
        F.round("precision_at_k", 6).alias("precision_at_k"),
        F.round("mrr", 6).alias("mrr"),
        F.round(F.col("dcg") / ideal, 6).alias("ndcg_at_k"),
    )
