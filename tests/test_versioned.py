"""Versioned parquet tables (sources/versioned.py): snapshot isolation,
time-travel, rollback-as-metadata, file-level CDC and optimistic
commits."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from querysight_spark.sources.versioned import (
    _commit,
    incremental_read,
    read_manifest,
    read_version,
    rollback,
    table_version,
    write_version,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    )


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def _data_files(root):
    return sorted(
        glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True)
    )


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "table")


def test_append_overwrite_time_travel(spark, root):
    assert table_version(root) == 0
    assert write_version(spark, _df(spark, 0, 5), root) == 1
    assert write_version(spark, _df(spark, 5, 8), root) == 2
    assert write_version(spark, _df(spark, 100, 102), root, mode="overwrite") == 3
    # latest is the overwrite...
    assert _ids(read_version(spark, root)) == [100, 101]
    # ...and every prior snapshot still reads exactly as committed
    assert _ids(read_version(spark, root, 1)) == [0, 1, 2, 3, 4]
    assert _ids(read_version(spark, root, 2)) == list(range(8))


def test_rollback_is_metadata_only(spark, root):
    write_version(spark, _df(spark, 0, 5), root)
    write_version(spark, _df(spark, 100, 102), root, mode="overwrite")
    files_before = _data_files(root)
    v = rollback(root, 1)
    assert v == 3
    assert _data_files(root) == files_before  # no data written
    assert read_manifest(root, 3)["files"] == read_manifest(root, 1)["files"]
    assert _ids(read_version(spark, root)) == [0, 1, 2, 3, 4]
    # the rolled-back overwrite remains time-travel-readable
    assert _ids(read_version(spark, root, 2)) == [100, 101]


def test_incremental_read_is_exactly_the_new_files(spark, root):
    write_version(spark, _df(spark, 0, 5), root)
    write_version(spark, _df(spark, 5, 8), root)
    write_version(spark, _df(spark, 8, 9), root)
    assert _ids(incremental_read(spark, root, 1)) == [5, 6, 7, 8]
    assert _ids(incremental_read(spark, root, 1, 2)) == [5, 6, 7]
    write_version(spark, _df(spark, 0, 1), root, mode="overwrite")
    with pytest.raises(ValueError, match="non-append"):
        incremental_read(spark, root, 1)
    with pytest.raises(ValueError, match="no files added"):
        incremental_read(spark, root, 3, 3)


def test_optimistic_commit_skips_claimed_version(spark, root):
    write_version(spark, _df(spark, 0, 2), root)
    # another writer claims v2 out from under us
    m1 = read_manifest(root, 1)
    with open(os.path.join(root, "_manifests", "v00000002.json"), "w") as f:
        json.dump({**m1, "version": 2, "op": "append", "added": []}, f)
    files = [os.path.join(root, f) for f in m1["files"]]
    assert _commit(root, files, [], [], "append") == 3


def test_bad_inputs(spark, root):
    with pytest.raises(ValueError, match="append|overwrite"):
        write_version(spark, _df(spark, 0, 1), root, mode="replace")
    write_version(spark, _df(spark, 0, 1), root)
    with pytest.raises(ValueError, match="empty"):
        # a hand-built empty snapshot refuses to scan (overwrite: appends
        # now re-merge the latest files on commit, so they can't go empty)
        _commit(root, [], [], [], "overwrite", expected_version=1)
        read_version(spark, root, 2)


def test_txn_commit_is_idempotent(spark, root):
    from querysight_spark.sources.versioned import committed_txn

    v1 = write_version(spark, _df(spark, 0, 3), root, txn_id="app:0")
    v_dup = write_version(spark, _df(spark, 0, 3), root, txn_id="app:0")
    assert v1 == v_dup == 1 and table_version(root) == 1
    assert committed_txn(root, "app:0") == 1
    assert committed_txn(root, "app:1") is None
    # a different txn appends normally
    assert write_version(spark, _df(spark, 3, 5), root, txn_id="app:1") == 2
    assert _ids(read_version(spark, root)) == [0, 1, 2, 3, 4]


def test_merge_schema_reads_added_column(spark, root):
    write_version(spark, _df(spark, 0, 2), root)
    write_version(
        spark,
        _df(spark, 2, 4).withColumn("extra", F.lit("x")),
        root,
    )
    merged = read_version(spark, root, merge_schema=True)
    assert "extra" in merged.columns
    got = {r.id: r.extra for r in merged.collect()}
    assert got[0] is None and got[3] == "x"


def test_streaming_sink_exactly_once_and_fresh_checkpoint_isolated(
    spark, root, tmp_path
):
    from querysight_spark.sources.versioned import start_versioned_sink

    src = str(tmp_path / "in")
    _df(spark, 0, 6).repartition(3).write.json(src)
    schema = "id long, v long"
    ck1 = str(tmp_path / "ck1")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    start_versioned_sink(stream(), root, ck1).awaitTermination()
    n1 = table_version(root)
    assert n1 >= 1 and _ids(read_version(spark, root)) == list(range(6))
    # restart on the same checkpoint, no new files: zero new versions
    start_versioned_sink(stream(), root, ck1).awaitTermination()
    assert table_version(root) == n1
    # a FRESH checkpoint re-delivers the data under a NEW query id:
    # batch ids restart at 0 but must NOT collide with the old txns
    ck2 = str(tmp_path / "ck2")
    start_versioned_sink(stream(), root, ck2).awaitTermination()
    assert table_version(root) > n1
    assert _ids(read_version(spark, root)) == sorted(list(range(6)) * 2)


# --- zone maps, merge_into, deletion vectors (round 6, session 4) ----------

from querysight_spark.sources.versioned import (  # noqa: E402
    compact_table,
    delete_keys,
    merge_into,
    pruned_files,
)


def _clustered(spark, lo, hi, parts=4):
    # range-clustered so per-file zone maps are disjoint
    return _df(spark, lo, hi).repartitionByRange(parts, "id")


def test_zone_maps_recorded_and_sticky(spark, root):
    write_version(spark, _clustered(spark, 0, 100), root, stats_cols=["id"])
    m1 = read_manifest(root, 1)
    assert m1["stats_cols"] == ["id"]
    assert set(m1["stats"]) == set(m1["files"])
    los = sorted(s["id"][0] for s in m1["stats"].values())
    assert los[0] == 0 and all(s["id"][1] <= 99 for s in m1["stats"].values())
    # append WITHOUT stats_cols: the column list is sticky
    write_version(spark, _clustered(spark, 100, 200), root)
    m2 = read_manifest(root, 2)
    assert m2["stats_cols"] == ["id"]
    assert set(m2["stats"]) == set(m2["files"])


def test_pruned_read_matches_full_filter(spark, root):
    write_version(spark, _clustered(spark, 0, 1000, 8), root, stats_cols=["id"])
    kept, skipped = pruned_files(root, 1, "id", 10, 40)
    assert skipped and len(kept) < len(kept) + len(skipped)
    got = read_version(spark, root, prune=("id", 10, 40))
    assert _ids(got) == list(range(10, 41))
    # a range outside every zone: zero files planned, schema intact
    empty = read_version(spark, root, prune=("id", 5000, 6000))
    assert empty.columns == ["id", "v"] and empty.count() == 0
    assert pruned_files(root, 1, "id", 5000, 6000)[0] == []


def test_merge_into_rewrites_only_touched_files(spark, root):
    write_version(spark, _clustered(spark, 0, 1000, 8), root, stats_cols=["id"])
    m1 = read_manifest(root, 1)
    # update ids 0-9, delete 10-14, insert 2000-2004: touches low files only
    src = spark.range(0, 15).select(
        F.col("id"),
        (F.col("id") * 1000).alias("v"),
        (F.col("id") >= 10).alias("_del"),
    ).unionByName(
        spark.range(2000, 2005).select(
            F.col("id"), (F.col("id") * 1000).alias("v"),
            F.lit(False).alias("_del"),
        )
    )
    v = merge_into(spark, src, root, ["id"], delete_col="_del")
    assert v == 2
    m2 = read_manifest(root, 2)
    carried = set(m1["files"]) & set(m2["files"])
    assert carried and set(m2["removed"]) == set(m1["files"]) - carried
    got = {r.id: r.v for r in read_version(spark, root).collect()}
    assert got[0] == 0 and got[5] == 5000 and got[2004] == 2004000
    assert 10 not in got and 14 not in got and got[500] == 5000
    assert len(got) == 1000 - 15 + 10 + 5
    # v1 still time-travels to the pre-merge rows
    assert len(_ids(read_version(spark, root, 1))) == 1000


def test_merge_into_pure_insert_and_schema_guard(spark, root):
    write_version(spark, _clustered(spark, 0, 100), root, stats_cols=["id"])
    m1 = read_manifest(root, 1)
    v = merge_into(spark, _df(spark, 5000, 5003), root, ["id"])
    m2 = read_manifest(root, v)
    # no file admits the new keys: nothing rewritten, pure append
    assert set(m1["files"]) <= set(m2["files"]) and m2["removed"] == []
    assert len(_ids(read_version(spark, root))) == 103
    with pytest.raises(ValueError, match="must match target"):
        merge_into(
            spark, _df(spark, 0, 1).withColumn("zzz", F.lit(1)), root, ["id"]
        )


def test_deletion_vectors_merge_on_read(spark, root):
    write_version(spark, _clustered(spark, 0, 100), root, stats_cols=["id"])
    files_before = _data_files(root)
    v = delete_keys(spark, root, spark.range(10, 20).select("id"))
    assert v == 2
    # pure metadata + sidecar: zero data files rewritten
    assert _data_files(root) == files_before
    assert read_manifest(root, 2)["files"] == read_manifest(root, 1)["files"]
    assert _ids(read_version(spark, root)) == list(range(10)) + list(
        range(20, 100)
    )
    assert len(_ids(read_version(spark, root, apply_dvs=False))) == 100
    # deleting again (overlap) stays idempotent; appends carry the DVs
    delete_keys(spark, root, spark.range(15, 25).select("id"))
    write_version(spark, _clustered(spark, 100, 110, 1), root)
    assert _ids(read_version(spark, root)) == list(range(10)) + list(
        range(25, 110)
    )
    with pytest.raises(ValueError, match="deletion-vector key"):
        delete_keys(spark, root, spark.range(0, 1).select(F.col("id").alias("v")))
    with pytest.raises(ValueError, match="outstanding deletion vectors"):
        merge_into(spark, _df(spark, 0, 1), root, ["id"])


def test_compact_folds_dvs_and_preserves_untouched_files(spark, root):
    write_version(spark, _clustered(spark, 0, 1000, 8), root, stats_cols=["id"])
    m1 = read_manifest(root, 1)
    delete_keys(spark, root, spark.range(0, 30).select("id"))
    before = _ids(read_version(spark, root))
    v = compact_table(spark, root)
    m3 = read_manifest(root, v)
    assert m3["dvs"] == [] and m3["op"] == "compact"
    # only the zone-touched files were rewritten
    assert set(m1["files"]) & set(m3["files"])
    assert _ids(read_version(spark, root)) == before == list(range(30, 1000))
    # no debt -> no-op
    assert compact_table(spark, root) == v


def test_rollback_carries_dvs(spark, root):
    write_version(spark, _clustered(spark, 0, 50, 2), root, stats_cols=["id"])
    delete_keys(spark, root, spark.range(0, 5).select("id"))
    write_version(spark, _clustered(spark, 50, 60, 1), root)
    rollback(root, 2)  # back to the deleted-but-not-appended state
    m4 = read_manifest(root, 4)
    assert m4["dvs"] == read_manifest(root, 2)["dvs"]
    assert _ids(read_version(spark, root)) == list(range(5, 50))


def test_refresh_aggregate_mv_incremental_and_idempotent(spark, tmp_path):
    from querysight_spark.sources.versioned import refresh_aggregate_mv

    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v")
        )

    write_version(spark, batch(0, 50), base)
    assert refresh_aggregate_mv(spark, base, mv, ["g"], ["v"]) == 1
    write_version(spark, batch(50, 80), base)
    write_version(spark, batch(80, 100), base)
    v = refresh_aggregate_mv(spark, base, mv, ["g"], ["v"])
    assert v == 2  # one refresh absorbed BOTH pending commits
    got = {r.g: (r.n_rows, r.sum_v) for r in read_version(spark, mv).collect()}
    want = {
        r.g: (r.n, r.s)
        for r in batch(0, 100)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want
    # nothing new -> no-op; retried refresh of same base version -> no-op
    assert refresh_aggregate_mv(spark, base, mv, ["g"], ["v"]) == 2
    assert table_version(mv) == 2
    # an overwrite on the base poisons the CDC range: refresh must refuse
    write_version(spark, batch(0, 10), base, mode="overwrite")
    with pytest.raises(ValueError, match="non-append"):
        refresh_aggregate_mv(spark, base, mv, ["g"], ["v"])


def test_refresh_aggregate_mv_guards_foreign_mv(spark, tmp_path):
    from querysight_spark.sources.versioned import refresh_aggregate_mv

    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")
    write_version(spark, _df(spark, 0, 5), base)
    write_version(spark, _df(spark, 0, 5), mv)  # not an MV commit
    with pytest.raises(ValueError, match="not committed by refresh"):
        refresh_aggregate_mv(spark, base, mv, ["v"], [])


def test_optimize_bin_packs_small_files_only(spark, root):
    from querysight_spark.sources.versioned import optimize_table

    # one big clustered commit + six tiny streaming-style appends
    write_version(
        spark,
        _df(spark, 0, 5000).repartitionByRange(2, "id"),
        root,
        stats_cols=["id"],
    )
    for k in range(6):
        write_version(
            spark, _df(spark, 5000 + k * 10, 5010 + k * 10).coalesce(1), root
        )
    m_before = read_manifest(root, table_version(root))
    v = optimize_table(spark, root, min_rows_per_file=100)
    m = read_manifest(root, v)
    assert m["op"] == "optimize"
    # the two big files carried by reference; the six small ones packed
    big = set(read_manifest(root, 1)["files"])
    assert big <= set(m["files"])
    assert len(m["files"]) < len(m_before["files"])
    assert set(m["removed"]) == set(m_before["files"]) - big
    assert _ids(read_version(spark, root)) == list(range(0, 5000)) + list(
        range(5000, 5060)
    )
    # zone maps re-statted for the packed files
    assert set(m["stats"]) == set(m["files"])
    # second pass: nothing small enough twice -> no-op
    assert optimize_table(spark, root, min_rows_per_file=100) in (v, v + 1)


def test_optimize_noop_and_dv_guard(spark, root):
    from querysight_spark.sources.versioned import (
        delete_keys,
        optimize_table,
    )

    write_version(spark, _df(spark, 0, 100).coalesce(1), root)
    # single small file: rewriting 1 file into 1 file is churn -> no-op
    assert optimize_table(spark, root, min_rows_per_file=1000) == 1
    delete_keys(spark, root, spark.range(0, 5).select("id"))
    write_version(spark, _df(spark, 100, 110).coalesce(1), root)
    with pytest.raises(ValueError, match="deletion vectors"):
        optimize_table(spark, root, min_rows_per_file=1000)


def test_dedup_sink_exactly_distinct_across_batches_and_replays(
    spark, root, tmp_path
):
    from querysight_spark.sources.versioned import start_dedup_versioned_sink

    src = str(tmp_path / "in")
    # 12 rows, only 4 distinct payloads; duplicates straddle files
    rows = spark.createDataFrame(
        [(i, f"payload-{i % 4}") for i in range(12)], "id long, body string"
    )
    rows.repartition(4).write.json(src)
    schema = "id long, body string"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .withColumn("fp", F.md5("body"))
        )

    ck1 = str(tmp_path / "ck1")
    start_dedup_versioned_sink(stream(), root, ck1, "fp", "id").awaitTermination()
    got = read_version(spark, root)
    assert got.count() == 4
    assert got.select("fp").distinct().count() == 4
    assert sorted(r.body for r in got.collect()) == [
        f"payload-{k}" for k in range(4)
    ]
    v = table_version(root)
    # same checkpoint restart: no new batches, no new versions
    start_dedup_versioned_sink(stream(), root, ck1, "fp", "id").awaitTermination()
    assert table_version(root) == v
    # FRESH checkpoint re-delivers everything: data-level lens absorbs
    # nothing and commits nothing (no empty versions either)
    ck2 = str(tmp_path / "ck2")
    start_dedup_versioned_sink(stream(), root, ck2, "fp", "id").awaitTermination()
    assert table_version(root) == v
    assert read_version(spark, root).count() == 4


def test_concurrent_writers_both_commit_once(spark, root):
    """Two writers race write_version on the same table from separate
    threads: the os.link manifest claim must serialize them — both land,
    on distinct consecutive versions, with no lost or doubled rows."""
    import threading

    write_version(spark, _df(spark, 0, 10), root)
    results = {}

    def writer(name, lo, hi):
        results[name] = write_version(spark, _df(spark, lo, hi), root)

    t1 = threading.Thread(target=writer, args=("a", 100, 150))
    t2 = threading.Thread(target=writer, args=("b", 200, 260))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert sorted(results.values()) == [2, 3]
    assert table_version(root) == 3
    assert _ids(read_version(spark, root)) == (
        list(range(10)) + list(range(100, 150)) + list(range(200, 260))
    )
    # each commit's added list is exactly its own files
    m2, m3 = read_manifest(root, 2), read_manifest(root, 3)
    assert set(m2["added"]).isdisjoint(m3["added"])
    assert set(m3["files"]) == set(m2["files"]) | set(m3["added"])


def test_derived_op_conflict_detected(spark, root):
    from querysight_spark.sources.versioned import ConcurrentWriteError

    write_version(spark, _df(spark, 0, 5), root)
    planned_against = table_version(root)
    write_version(spark, _df(spark, 5, 10), root)  # racer lands v2
    with pytest.raises(ConcurrentWriteError, match="planned against v1"):
        _commit(
            root, [], [], [], "overwrite", expected_version=planned_against
        )
    # the table is unharmed
    assert _ids(read_version(spark, root)) == list(range(10))


def test_change_feed_insert_update_delete_and_physical_silence(spark, root):
    from querysight_spark.sources.versioned import (
        compact_table,
        delete_keys,
        merge_into,
        optimize_table,
        read_changes,
    )

    write_version(
        spark,
        _df(spark, 0, 100).repartitionByRange(4, "id"),
        root,
        stats_cols=["id"],
    )
    # v2: merge — update 0-4 (v -> -1), delete 5-6, insert 200-201
    src = (
        spark.range(0, 7)
        .select("id", F.lit(-1).alias("v"), (F.col("id") >= 5).alias("d"))
        .unionByName(
            spark.range(200, 202).select(
                "id", F.lit(7).alias("v"), F.lit(False).alias("d")
            )
        )
    )
    merge_into(spark, src, root, ["id"], delete_col="d")
    ch = read_changes(spark, root, 1, key_cols=["id"]).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r._change_type, set()).add(r.id)
    assert by_type["insert"] == {200, 201}
    assert by_type["delete"] == {5, 6}
    assert by_type["update_pre"] == by_type["update_post"] == set(range(5))
    pre = {r.id: r.v for r in ch if r._change_type == "update_pre"}
    post = {r.id: r.v for r in ch if r._change_type == "update_post"}
    assert pre[3] == 30 and post[3] == -1
    # v3: DV delete emits pre-image deletes only for NEWLY tombstoned keys
    delete_keys(spark, root, spark.range(10, 12).select("id"))
    delete_keys(spark, root, spark.range(10, 14).select("id"))
    ch34 = read_changes(spark, root, 2, 4, key_cols=["id"]).collect()
    dels = {
        (r._commit_version, r.id)
        for r in ch34
        if r._change_type == "delete"
    }
    assert dels == {(3, 10), (3, 11), (4, 12), (4, 13)}
    # physical rewrites are logically silent: compact folds the DVs
    # (delete events already emitted), optimize repacks — neither may
    # emit a row-level change
    v_compact = compact_table(spark, root)
    assert read_changes(spark, root, 4, v_compact, key_cols=["id"]).count() == 0
    for k in range(3):
        write_version(spark, _df(spark, 300 + k * 5, 305 + k * 5), root)
    v0 = table_version(root)
    v_opt = optimize_table(spark, root, min_rows_per_file=50)
    assert v_opt > v0
    assert read_changes(spark, root, v0, v_opt, key_cols=["id"]).count() == 0
    # append commits emit plain inserts without key_cols
    ins = read_changes(spark, root, v_compact, v0)
    assert ins.where(F.col("_change_type") != "insert").count() == 0
    assert ins.count() == 15


def test_refresh_mv_from_feed_handles_updates_and_deletes(spark, tmp_path):
    from querysight_spark.sources.versioned import refresh_mv_from_feed as _r

    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")
    df = spark.range(0, 100).select(
        "id", (F.col("id") % 4).alias("g"), (F.col("id") * 10).alias("v")
    )
    write_version(spark, df.repartitionByRange(4, "id"), base,
                  stats_cols=["id"])
    args = (spark, base, mv, ["g"], ["v"], ["id"])
    assert _r(*args) == 1
    # merge: move ids 0-9 to g=99 territory via update (v -> 1), delete 10-14
    src = (
        spark.range(0, 10)
        .select("id", F.lit(3).alias("g"), F.lit(1).alias("v"),
                F.lit(False).alias("d"))
        .unionByName(
            spark.range(10, 15).select(
                "id", F.lit(0).alias("g"), F.lit(0).alias("v"),
                F.lit(True).alias("d"))
        )
    )
    merge_into(spark, src, base, ["id"], delete_col="d")
    assert _r(*args) == 2
    delete_keys(spark, base, spark.range(20, 30).select("id"))
    assert _r(*args) == 3
    compact_table(spark, base)
    assert _r(*args) == 4
    assert _r(*args) == 4  # no-op retry
    got = {
        r.g: (r.n_rows, r.sum_v)
        for r in read_version(spark, mv).collect()
    }
    want = {
        r.g: (r.n, r.s)
        for r in read_version(spark, base)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_merge_retry_after_conflict_converges(spark, root):
    """The documented ConcurrentWriteError recovery path: a merge that
    loses to a concurrent append re-runs against the new snapshot and
    lands with BOTH the append's rows and the merge's effects."""
    from unittest import mock

    from querysight_spark.sources.versioned import (
        ConcurrentWriteError,
        merge_into,
    )
    import querysight_spark.sources.versioned as vmod

    write_version(
        spark, _clustered(spark, 0, 100), root, stats_cols=["id"]
    )
    src = spark.range(0, 10).select("id", F.lit(-1).alias("v"))

    real_commit = vmod._commit
    fired = {"done": False}

    def racing_commit(*args, **kwargs):
        # an appender lands between the merge's snapshot read and its
        # manifest claim, exactly once
        if not fired["done"] and kwargs.get("expected_version") == 1:
            fired["done"] = True
            write_version(spark, _df(spark, 500, 505), root)
        return real_commit(*args, **kwargs)

    with mock.patch.object(vmod, "_commit", side_effect=racing_commit):
        with pytest.raises(ConcurrentWriteError, match="planned against"):
            merge_into(spark, src, root, ["id"])
    # retry against the new snapshot converges
    merge_into(spark, src, root, ["id"])
    got = {r.id: r.v for r in read_version(spark, root).collect()}
    assert got[5] == -1 and got[50] == 500 and got[502] == 5020
    assert len(got) == 105


def test_manifest_checkpoint_bounds_planning(spark, root):
    from querysight_spark.sources.versioned import (
        checkpoint_manifest,
        committed_txn,
    )

    for k in range(6):
        write_version(spark, _df(spark, k * 5, k * 5 + 5), root,
                      txn_id=f"load:{k}")
    assert checkpoint_manifest(root) == 6
    # version planning now walks forward from the checkpoint
    assert table_version(root) == 6
    write_version(spark, _df(spark, 100, 105), root, txn_id="load:6")
    assert table_version(root) == 7
    # txn lookups: from the checkpoint map (old) and the tail scan (new)
    assert committed_txn(root, "load:2") == 3
    assert committed_txn(root, "load:6") == 7
    assert committed_txn(root, "nope") is None
    # idempotent retry of a checkpointed txn still no-ops
    assert write_version(spark, _df(spark, 0, 5), root, txn_id="load:2") == 3
    assert table_version(root) == 7
    # a second checkpoint accumulates the delta on top of the first
    assert checkpoint_manifest(root) == 7
    assert committed_txn(root, "load:6") == 7
    assert _ids(read_version(spark, root)) == sorted(
        list(range(30)) + list(range(100, 105))
    )


def test_feed_mv_sink_tails_manifest_log(spark, tmp_path):
    from querysight_spark.sources.versioned import (
        start_feed_mv_sink,
    )

    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")
    ck = str(tmp_path / "ck")
    df = spark.range(0, 60).select(
        "id", (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v")
    )
    write_version(spark, df.repartitionByRange(4, "id"), base,
                  stats_cols=["id"])
    src = spark.range(0, 10).select(
        "id", F.lit(0).alias("g"), F.lit(100).alias("v"),
        (F.col("id") % 2 == 0).alias("d")
    )
    merge_into(spark, src, base, ["id"], delete_col="d")
    delete_keys(spark, base, spark.range(20, 25).select("id"))
    args = (spark, base, mv, ["g"], ["v"], ["id"])
    start_feed_mv_sink(*args, checkpoint=ck).awaitTermination()
    got = {r.g: (r.n_rows, r.sum_v) for r in read_version(spark, mv).collect()}
    want = {
        r.g: (r.n, r.s)
        for r in read_version(spark, base)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want
    # restart with no new commits: no new MV versions
    v = table_version(mv)
    start_feed_mv_sink(*args, checkpoint=ck).awaitTermination()
    assert table_version(mv) == v
    # a new commit flows through on the next drain
    write_version(spark, spark.range(100, 110).select(
        "id", (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v")
    ), base)
    start_feed_mv_sink(*args, checkpoint=ck).awaitTermination()
    got2 = {r.g: r.n_rows for r in read_version(spark, mv).collect()}
    assert sum(got2.values()) == sum(got[k][0] for k in got) + 10


def test_maintenance_txns_are_idempotent(spark, root):
    """Retried CDC commands must not double-apply: merge_into and
    delete_keys short-circuit on an already-committed txn_id."""
    write_version(spark, _clustered(spark, 0, 100), root, stats_cols=["id"])
    src = spark.range(0, 5).select("id", F.lit(-1).alias("v"))
    v = merge_into(spark, src, root, ["id"], txn_id="cmd:merge:1")
    assert merge_into(spark, src, root, ["id"], txn_id="cmd:merge:1") == v
    got = {r.id: r.v for r in read_version(spark, root).collect()}
    assert got[0] == -1 and len(got) == 100
    d = delete_keys(spark, root, spark.range(50, 60).select("id"),
                    txn_id="cmd:del:1")
    files_before = _data_files(root)
    assert delete_keys(spark, root, spark.range(50, 60).select("id"),
                       txn_id="cmd:del:1") == d
    assert table_version(root) == d and _data_files(root) == files_before
    assert len(_ids(read_version(spark, root))) == 90


def test_txn_idempotency_across_checkpoints(spark, root):
    """A superseding checkpoint carries the previous one's txn map, so a
    late retry of a txn from before both still no-ops."""
    from querysight_spark.sources.versioned import (
        _latest_checkpoint,
        checkpoint_manifest,
    )

    for k in range(5):
        write_version(spark, _df(spark, k * 3, k * 3 + 3), root,
                      txn_id=f"b:{k}")
    checkpoint_manifest(root)  # an older checkpoint to supersede
    write_version(spark, _df(spark, 50, 53), root, txn_id="b:5")
    assert checkpoint_manifest(root) == 6
    assert _latest_checkpoint(root)["txns"] == {
        f"b:{k}": k + 1 for k in range(6)
    }
    # retried txn from before both checkpoints: no-op, no new version
    assert write_version(spark, _df(spark, 0, 3), root, txn_id="b:1") == 2
    assert table_version(root) == 6
    assert _ids(read_version(spark, root)) == sorted(
        list(range(15)) + [50, 51, 52]
    )


def test_dv_scope_reinsert_after_delete(spark, root):
    """Deletion vectors are PER-FILE SCOPED: a key appended AFTER its
    delete is visible again — reads, the change feed, and a second
    delete all agree (the append-shadowing bug class where a carried
    vector silently hides re-inserted rows until compaction)."""
    from querysight_spark.sources.versioned import (
        delete_keys,
        read_changes,
    )

    write_version(spark, _df(spark, 0, 10), root, stats_cols=["id"])
    delete_keys(spark, root, spark.range(3, 5).select("id"))
    assert _ids(read_version(spark, root)) == [0, 1, 2, 5, 6, 7, 8, 9]
    # re-insert one of the deleted keys: the older vector must not
    # shadow the new row
    write_version(spark, _df(spark, 3, 4), root)
    assert _ids(read_version(spark, root)) == [0, 1, 2, 3, 5, 6, 7, 8, 9]
    ch = read_changes(spark, root, 2, 3, key_cols=["id"]).collect()
    assert [(r.id, r._change_type) for r in ch] == [(3, "insert")]
    # deleting the re-inserted key again is a REAL change: the feed
    # emits its live pre-image row, and the read hides it
    delete_keys(spark, root, spark.range(3, 4).select("id"))
    ch = read_changes(spark, root, 3, 4, key_cols=["id"]).collect()
    assert [(r.id, r.v, r._change_type) for r in ch] == [(3, 30, "delete")]
    assert _ids(read_version(spark, root)) == [0, 1, 2, 5, 6, 7, 8, 9]


def test_compact_preserves_reinserted_rows(spark, root):
    """Compaction folds each vector only into files older than it, so a
    re-inserted key survives the rewrite; the fold itself stays
    logically silent in the change feed."""
    from querysight_spark.sources.versioned import (
        compact_table,
        delete_keys,
        read_changes,
    )

    write_version(spark, _df(spark, 0, 10), root, stats_cols=["id"])
    delete_keys(spark, root, spark.range(3, 5).select("id"))
    write_version(spark, _df(spark, 3, 4), root)
    before = _ids(read_version(spark, root))
    v = compact_table(spark, root)
    assert read_manifest(root, v)["dvs"] == []
    assert _ids(read_version(spark, root)) == before
    assert before == [0, 1, 2, 3, 5, 6, 7, 8, 9]
    assert read_changes(spark, root, v - 1, v, key_cols=["id"]).count() == 0


def test_open_ended_prune(spark, root):
    """pruned_files/read_version treat a None bound as open-ended
    (col >= lo or col <= hi)."""
    from querysight_spark.sources.versioned import pruned_files

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    ).repartitionByRange(4, "id")
    write_version(spark, df, root, stats_cols=["id"])
    kept_lo, skipped_lo = pruned_files(root, 1, "id", 80, None)
    assert skipped_lo  # zone maps prune the low files
    assert _ids(read_version(spark, root, prune=("id", 80, None))) == list(
        range(80, 100)
    )
    kept_hi, skipped_hi = pruned_files(root, 1, "id", None, 19)
    assert skipped_hi
    assert _ids(read_version(spark, root, prune=("id", None, 19))) == list(
        range(20)
    )


def test_schema_evolution_column_add(spark, root):
    """ALTER-style column add: a metadata-only evolve commit records the
    schema; reads NULL-backfill pre-evolution files; appends are gated
    (unknown columns and retypes refused); time travel and rollback see
    the pre-evolution schema; the change feed is silent on the evolve
    and NULL-backfills across the boundary."""
    from querysight_spark.sources.versioned import (
        evolve_table_schema,
        read_changes,
    )

    write_version(spark, _df(spark, 0, 5), root)
    files_before = _data_files(root)
    v = evolve_table_schema(spark, root, {"tag": "string"})
    assert v == 2 and _data_files(root) == files_before  # metadata only
    assert read_manifest(root, 2)["op"] == "evolve"
    # pre-evolution rows read with the new column as NULL
    cur = read_version(spark, root)
    assert cur.columns == ["id", "v", "tag"]
    assert cur.where(F.col("tag").isNotNull()).count() == 0
    # post-evolution append carries the column; omitting it stays legal
    tagged = spark.range(5, 8).select(
        F.col("id"), (F.col("id") * 10).alias("v"),
        F.lit("new").alias("tag"),
    )
    write_version(spark, tagged, root)
    write_version(spark, _df(spark, 8, 10), root)  # omits tag -> NULL
    cur = read_version(spark, root)
    assert cur.count() == 10
    assert _ids(cur.where(F.col("tag") == "new")) == [5, 6, 7]
    assert _ids(cur.where(F.col("tag").isNull())) == [0, 1, 2, 3, 4, 8, 9]
    # gates: unknown column and incompatible retype refused
    with pytest.raises(ValueError, match="not in the table schema"):
        write_version(
            spark, tagged.withColumn("extra", F.lit(1)), root
        )
    with pytest.raises(ValueError, match="incompatible type change"):
        write_version(
            spark,
            spark.range(1).select(
                F.col("id"), (F.col("id") * 10).alias("v"),
                F.lit(3).alias("tag"),
            ),
            root,
        )
    with pytest.raises(ValueError, match="already exists"):
        evolve_table_schema(spark, root, {"v": "string"})
    # time travel: the pre-evolution snapshot has the original schema
    assert read_version(spark, root, 1).columns == ["id", "v"]
    # change feed: evolve silent, boundary union NULL-backfills
    ch = read_changes(spark, root, 0)  # appends+evolve: no key_cols needed
    assert set(ch.columns) == {"id", "v", "tag", "_change_type",
                               "_commit_version"}
    assert ch.where(F.col("_commit_version") == 2).count() == 0
    assert _ids(ch.where(F.col("tag") == "new")) == [5, 6, 7]
    # incremental_read across the evolve boundary: schema unified
    inc = incremental_read(spark, root, 0)
    assert inc.count() == 10 and "tag" in inc.columns
    # rollback to pre-evolution restores the old schema
    rollback(root, 1)
    assert read_version(spark, root).columns == ["id", "v"]


def test_schema_evolution_with_merge_and_dvs(spark, root):
    """Evolution composes with the maintenance surface: MERGE INTO on an
    evolved table NULL-backfills the touched pre-evolution files, and
    deletion vectors carry the evolved schema through."""
    from querysight_spark.sources.versioned import (
        delete_keys,
        evolve_table_schema,
        merge_into,
    )

    write_version(
        spark,
        _df(spark, 0, 100).repartitionByRange(4, "id"),
        root,
        stats_cols=["id"],
    )
    evolve_table_schema(spark, root, {"tag": "string"})
    src = spark.range(0, 3).select(
        F.col("id"), (F.col("id") * 10).alias("v"),
        F.lit("merged").alias("tag"),
    )
    merge_into(spark, src, root, ["id"])
    cur = read_version(spark, root)
    assert cur.count() == 100
    assert _ids(cur.where(F.col("tag") == "merged")) == [0, 1, 2]
    delete_keys(spark, root, spark.range(50, 60).select("id"))
    cur = read_version(spark, root)
    assert cur.count() == 90 and "tag" in cur.columns


def test_zorder_table_multi_predicate_pruning(spark, root):
    """Z-order rewrite: same rows (the commit is logically silent),
    strictly better conjunction pruning than the single-column range
    cluster, and DV refusal."""
    from querysight_spark.sources.versioned import (
        delete_keys,
        pruned_files,
        read_changes,
        zorder_table,
    )

    df = spark.range(0, 4096).select(
        F.col("id").alias("x"),
        # decorrelated second key: bit-reversed-ish mix
        ((F.col("id") * 2654435761) % 4096).alias("y"),
        (F.col("id") % 7).alias("g"),
    )
    write_version(
        spark, df.repartitionByRange(64, "x"), root, stats_cols=["x", "y"]
    )
    v = zorder_table(spark, root, ["x", "y"], bits=8, target_files=64)
    assert read_manifest(root, v)["op"] == "zorder"
    preds = [("x", 1024, 1433), ("y", 1024, 1433)]
    kept_range, _ = pruned_files(root, 1, preds)
    kept_z, _ = pruned_files(root, 2, preds)
    assert len(kept_z) < len(kept_range)
    # lossless: pruned read equals the full-filter read, rows unchanged
    got = read_version(spark, root, prune=preds)
    want = read_version(spark, root, 1).where(
        F.col("x").between(1024, 1433) & F.col("y").between(1024, 1433)
    )
    assert sorted(r.x for r in got.collect()) == sorted(
        r.x for r in want.collect()
    )
    # logically silent in the feed
    assert read_changes(spark, root, 1, 2, key_cols=["x"]).count() == 0
    # refuses outstanding delete debt
    delete_keys(spark, root, spark.range(0, 5).select(F.col("id").alias("x")))
    with pytest.raises(ValueError, match="deletion vectors"):
        zorder_table(spark, root, ["x", "y"])


def test_maintenance_preserves_evolved_columns(spark, root):
    """OPTIMIZE and compaction rewrites that straddle a schema-evolution
    boundary keep the added column (NULL-backfilled for pre-evolution
    rows) instead of letting a mixed-schema raw read drop it."""
    from querysight_spark.sources.versioned import (
        compact_table,
        delete_keys,
        evolve_table_schema,
        optimize_table,
    )

    # many tiny pre-evolution files + tagged post-evolution files
    for k in range(3):
        write_version(
            spark, _df(spark, k * 4, k * 4 + 4).repartition(2), root,
            stats_cols=["id"],
        )
    evolve_table_schema(spark, root, {"tag": "string"})
    write_version(
        spark,
        spark.range(12, 16).select(
            F.col("id"), (F.col("id") * 10).alias("v"),
            F.lit("new").alias("tag"),
        ).repartition(2),
        root,
    )
    v = optimize_table(spark, root, min_rows_per_file=10)
    opt = read_version(spark, root, v)
    assert "tag" in opt.columns
    assert _ids(opt.where(F.col("tag") == "new")) == [12, 13, 14, 15]
    assert _ids(opt.where(F.col("tag").isNull())) == list(range(12))
    # compaction across the boundary keeps the column too
    delete_keys(spark, root, spark.range(0, 2).select("id"))
    compact_table(spark, root)
    cur = read_version(spark, root)
    assert "tag" in cur.columns
    assert _ids(cur.where(F.col("tag") == "new")) == [12, 13, 14, 15]
    assert _ids(cur) == list(range(2, 16))


def test_table_history(spark, root):
    """DESCRIBE HISTORY rows newest-first with ops/deltas/ts."""
    from querysight_spark.sources.versioned import delete_keys, table_history

    write_version(spark, _df(spark, 0, 5), root, txn_id="a:1")
    write_version(spark, _df(spark, 5, 8), root)
    delete_keys(spark, root, spark.range(0, 2).select("id"))
    hist = table_history(root)
    assert [r["version"] for r in hist] == [3, 2, 1]
    assert [r["op"] for r in hist] == ["delete", "append", "append"]
    assert hist[0]["n_dvs"] >= 1 and hist[1]["n_dvs"] == 0
    assert hist[2]["txn_id"] == "a:1"
    assert all(r["ts"] is not None for r in hist)


def test_zorder_keeps_prior_stats_cols_prunable(spark, root):
    """A Z-order rewrite stats the UNION of the zorder columns and the
    table's historical stats_cols, so predicates on a formerly
    clustered column still prune (looser, never blind), and later
    appends inherit the union."""
    from querysight_spark.sources.versioned import pruned_files, zorder_table

    df = spark.range(0, 4096).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % 4096).alias("y"),
        (F.col("id") % 5).alias("g"),
    )
    write_version(
        spark, df.repartitionByRange(32, "g"), root, stats_cols=["g"]
    )
    v = zorder_table(spark, root, ["x", "y"], target_files=32)
    m = read_manifest(root, v)
    assert m["stats_cols"] == ["x", "y", "g"]
    # every file has a g zone map recorded
    assert all("g" in m["stats"][f] for f in m["files"])
    kept, _ = pruned_files(root, v, [("x", 0, 100), ("y", 0, 100)])
    assert len(kept) < len(m["files"])  # zorder pruning works


def test_streaming_sink_respects_evolution_gate(spark, root, tmp_path):
    """Once a table opts into managed schema (first evolve), the
    exactly-once sink inherits write_version's gate: a micro-batch
    carrying an unknown column fails the stream atomically (nothing
    half-lands), and after the column is evolved in, the same data
    absorbs cleanly with NULL backfill on pre-evolution rows.
    Pre-evolution tables stay schema-on-read (legacy mergeSchema)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from querysight_spark.sources.versioned import (
        evolve_table_schema,
        start_versioned_sink,
    )

    write_version(spark, _df(spark, 0, 4), root)
    evolve_table_schema(spark, root, {"tag": "string"})  # schema managed
    src = str(tmp_path / "in")
    spark.range(4, 8).select(
        F.col("id"), (F.col("id") * 10).alias("v"),
        F.lit("t").alias("tag"), F.lit(1).alias("extra"),
    ).write.json(src)
    sch = "id long, v long, tag string, extra long"
    stream = spark.readStream.schema(sch).json(src)
    q = start_versioned_sink(stream, root, str(tmp_path / "ck1"))
    with pytest.raises(StreamingQueryException, match="not in the table schema"):
        q.awaitTermination()
    assert table_version(root) == 2  # nothing half-landed
    evolve_table_schema(spark, root, {"extra": "bigint"})
    stream2 = spark.readStream.schema(sch).json(src)
    start_versioned_sink(stream2, root, str(tmp_path / "ck2")).awaitTermination()
    cur = read_version(spark, root)
    assert _ids(cur) == list(range(8))
    assert _ids(cur.where(F.col("tag").isNull())) == [0, 1, 2, 3]
    assert _ids(cur.where(F.col("extra") == 1)) == [4, 5, 6, 7]


def test_zorder_racing_append_conflicts_cleanly(spark, root):
    """A Z-order rewrite planned against a snapshot an append just moved
    must raise ConcurrentWriteError (never erase the racer's files), and
    the retry against the fresh snapshot converges with every row
    present — the X167 discipline extended to the round-7 ops."""
    from querysight_spark.sources.versioned import (
        ConcurrentWriteError,
        zorder_table,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % 1000).alias("y"),
    )
    write_version(spark, df.repartitionByRange(8, "x"), root,
                  stats_cols=["x", "y"])
    # move the snapshot between the zorder's plan and its commit by
    # appending from inside a monkeypatched _collect_stats... simpler:
    # plan the zorder, land an append first, then commit via the public
    # API by racing two threads with a barrier
    import threading

    errs, out = [], []
    barrier = threading.Barrier(2)

    def do_zorder():
        barrier.wait()
        try:
            out.append(zorder_table(spark, root, ["x", "y"],
                                    target_files=8))
        except ConcurrentWriteError as e:
            errs.append(e)

    def do_append():
        barrier.wait()
        out.append(
            write_version(
                spark,
                spark.range(1000, 1100).select(
                    F.col("id").alias("x"),
                    ((F.col("id") * 2654435761) % 1000).alias("y"),
                ),
                root,
            )
        )

    t1 = threading.Thread(target=do_zorder)
    t2 = threading.Thread(target=do_append)
    t1.start(); t2.start(); t1.join(); t2.join()
    if errs:  # zorder lost the race: retry against the fresh snapshot
        zorder_table(spark, root, ["x", "y"], target_files=8)
    # whichever interleaving happened, all 1100 rows survive
    assert read_version(spark, root).count() == 1100
    # the final snapshot never references vanished files
    m = read_manifest(root, table_version(root))
    import os as _os
    assert all(_os.path.exists(_os.path.join(root, f)) for f in m["files"])
