"""Round-8 pins: exact DV scoping under multi-race appends (manifest
fv/dvv maps) and change-feed pre-images across an overwrite after schema
evolution — r7 ADVICE findings."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from querysight_spark.sources.versioned import (
    delete_keys,
    evolve_table_schema,
    read_changes,
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


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "table")


def test_dv_scope_exact_when_append_loses_two_races(spark, root):
    """The r7 ADVICE race: an append whose data directory claims
    c{v-1} loses TWO manifest races and commits at v+1, AFTER a delete
    that landed at v. The path-derived vintage (v-1 < v) would wrongly
    apply the DV to rows the delete never saw; the manifest's recorded
    fv map (committed version, stamped inside the claim loop) keeps the
    re-inserted key visible."""
    from unittest import mock

    import querysight_spark.sources.versioned as vmod

    write_version(spark, _df(spark, 0, 10), root)  # v1: keys 0..9

    real_commit = vmod._commit
    state = {"fired": False}

    def racing(*args, **kwargs):
        # between the re-insert append's data write (dir claims c2) and
        # its manifest claim: an interloper append lands v2, then a
        # delete of the same key lands v3 — the re-insert commits at v4
        if not state["fired"] and args[4] == "append":
            state["fired"] = True
            write_version(spark, _df(spark, 100, 103), root)  # v2
            delete_keys(
                spark, root, spark.createDataFrame([(5,)], ["id"])
            )  # v3
        return real_commit(*args, **kwargs)

    reinsert = spark.createDataFrame([(5, -55)], ["id", "v"])
    with mock.patch.object(vmod, "_commit", side_effect=racing):
        v = write_version(spark, reinsert, root)
    assert v == 4
    m = read_manifest(root, 4)
    # the re-insert's file claims directory c00000002 but the manifest
    # records its TRUE commit version (exceptions-only map: a race
    # loser is exactly the case that gets an entry), above the delete's
    from querysight_spark.sources.versioned import _commit_of

    new_files = m["added"]
    assert len(new_files) >= 1
    assert all("c00000002-" in f for f in new_files)
    assert all(m["fv"][f] == 4 for f in new_files)
    assert all(
        m["dvv"].get(d, _commit_of(d)) == 3 for d in m["dvs"]
    )
    got = {r.id: r.v for r in read_version(spark, root).collect()}
    # key 5's ORIGINAL row (v1, tombstoned at v3) is gone; the
    # re-inserted row (committed v4 > DV v3) is visible
    assert got[5] == -55
    assert set(got) == set(range(10)) | {100, 101, 102}


def test_rollback_preserves_recorded_file_versions(spark, root):
    """Files re-entering a snapshot via rollback keep the commit
    version they REALLY landed at (the target manifest remembers; the
    map stores only exceptions — a rollback must not mint new ones),
    so DV scoping stays exact across a rollback."""
    from querysight_spark.sources.versioned import _commit_of

    write_version(spark, _df(spark, 0, 5), root)           # v1
    write_version(spark, _df(spark, 5, 8), root)           # v2
    write_version(spark, _df(spark, 8, 12), root, "overwrite")  # v3
    rollback(root, 2)                                      # v4
    m = read_manifest(root, 4)
    by_dir = {
        f: m["fv"].get(f, _commit_of(f)) for f in m["files"]
    }
    # effective versions are the originals (1 and 2), never 4 — the
    # re-entering files did not get re-stamped by the rollback commit
    assert set(by_dir.values()) == {1, 2}
    for f, ver in by_dir.items():
        assert f"c{ver:08d}-" in f
    assert _ids(read_version(spark, root)) == list(range(8))


def test_change_feed_overwrite_preimage_keeps_evolved_columns(spark, root):
    """r7 ADVICE #4: removed (pre-image) files belong to the PREV
    snapshot — after an overwrite resets the recorded schema, the
    pre-evolution removed files must still read with PREV's evolved
    schema (NULL-backfilled), or a row differing only in an evolved
    column misclassifies as unchanged."""
    write_version(spark, _df(spark, 0, 4), root)            # v1
    evolve_table_schema(spark, root, {"tag": "string"})     # v2
    # v3: overwrite with the same logical rows, except id=2 gains a tag
    new = spark.createDataFrame(
        [(i, i * 10, "hot" if i == 2 else None) for i in range(4)],
        ["id", "v", "tag"],
    )
    write_version(spark, new, root, mode="overwrite")       # v3
    feed = read_changes(spark, root, 2, 3, key_cols=["id"]).collect()
    by_type: dict[str, set[int]] = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    # only id=2 changed (tag NULL -> 'hot'); everything else is silent
    assert by_type.get("update_pre") == {2}
    assert by_type.get("update_post") == {2}
    assert "insert" not in by_type and "delete" not in by_type
    pre = [r for r in feed if r["_change_type"] == "update_pre"][0]
    post = [r for r in feed if r["_change_type"] == "update_post"][0]
    assert pre["tag"] is None and post["tag"] == "hot"


def test_incremental_read_survives_interleaved_zorder(spark, root):
    """The week-two wall (r7 VERDICT #3): an incremental consumer must
    survive append -> zorder -> append — a physical rewrite's added
    files carry no newly-appended rows, so the default skip keeps each
    increment exactly the appended rows, and the union of increments
    equals the table."""
    from querysight_spark.sources.versioned import zorder_table
    from querysight_spark.sources.versioned import incremental_read

    df = spark.range(0, 400).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 400).alias("y"),
        (F.col("id") * 10).alias("v"),
    )
    write_version(
        spark, df.repartitionByRange(4, "id"), root, stats_cols=["id", "y"]
    )  # v1
    consumed = _ids(incremental_read(spark, root, 0))
    assert consumed == list(range(400))
    last = table_version(root)
    write_version(spark, _df2(spark, 400, 500), root)       # v2 append
    zorder_table(spark, root, ["id", "y"], target_files=4)  # v3 rewrite
    write_version(spark, _df2(spark, 500, 600), root)       # v4 append
    inc = incremental_read(spark, root, last)
    assert _ids(inc) == list(range(400, 600))
    consumed += _ids(inc)
    # the consumer's union equals the current logical table
    assert sorted(consumed) == _ids(read_version(spark, root))


def test_incremental_read_survives_evolve_and_compact(spark, root):
    """append -> evolve -> append reads with the end schema (NULL
    backfill); a compact inside a post-delete range is skipped and the
    increment stays exactly the appended rows."""
    from querysight_spark.sources.versioned import (
        compact_table,
        incremental_read,
        read_changes,
    )

    write_version(spark, _df(spark, 0, 5), root)             # v1
    evolve_table_schema(spark, root, {"tag": "string"})      # v2
    tagged = spark.createDataFrame(
        [(9, 90, "t9")], ["id", "v", "tag"]
    )
    write_version(spark, tagged, root)                       # v3
    inc = incremental_read(spark, root, 1)
    assert set(inc.columns) == {"id", "v", "tag"}
    assert _ids(inc) == [9]
    delete_keys(spark, root, spark.createDataFrame([(2,)], ["id"]))  # v4
    compact_table(spark, root)                               # v5
    write_version(
        spark,
        spark.createDataFrame(
            [(20, 200, None)], "id long, v long, tag string"
        ),
        root,
    )                                                        # v6
    assert _ids(incremental_read(spark, root, 4)) == [20]
    # a ROW-CHANGING commit still refuses, with the documented cure...
    with pytest.raises(ValueError, match="read_changes"):
        incremental_read(spark, root, 3)
    # ...and the cure works: the same range consumed as the change feed
    feed = read_changes(spark, root, 3, key_cols=["id"])
    got = {
        (r["_change_type"], r["id"], r["_commit_version"])
        for r in feed.collect()
    }
    assert got == {("delete", 2, 4), ("insert", 20, 6)}


def test_incremental_zorder_rewrites_only_the_delta(spark, root):
    """io11: after a full Z-order, an incremental re-cluster touches
    ONLY the files appended since (already-clustered files carry by
    reference), restores pruning lost to append drift, and keeps every
    row. No-op when nothing drifted; with no prior zorder the
    incremental call degrades to a full rewrite."""
    from querysight_spark.sources.versioned import (
        pruned_files,
        zorder_table,
    )

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("x"),
            ((F.col("id") * 2654435761) % 4096).alias("y"),
        )

    write_version(
        spark, mk(0, 4096).repartitionByRange(16, "x"), root,
        stats_cols=["x", "y"],
    )                                                        # v1
    # no prior zorder on (x, y): incremental degrades to full
    assert zorder_table(
        spark, root, ["x", "y"], target_files=16, incremental=True
    ) == 2
    m2 = read_manifest(root, 2)
    assert m2["zorder_cols"] == ["x", "y"]
    assert set(m2["removed"]) == set(read_manifest(root, 1)["files"])
    # append drift: two appends whose x AND y span the whole domain
    # (every appended file overlaps any window until re-clustered)
    def mk_wide(lo, hi):
        return spark.range(lo, hi).select(
            ((F.col("id") * 7919) % 4096).alias("x"),
            ((F.col("id") * 2654435761) % 4096).alias("y"),
        )

    write_version(spark, mk_wide(0, 512).repartition(4), root)     # v3
    write_version(spark, mk_wide(512, 1024).repartition(4), root)  # v4
    preds = [("x", 100, 500), ("y", 100, 500)]
    kept_drift, _ = pruned_files(root, 4, preds)
    # incremental: only the 8 appended files rewrite
    v5 = zorder_table(
        spark, root, ["x", "y"], target_files=4, incremental=True
    )
    assert v5 == 5
    m5 = read_manifest(root, 5)
    clustered_files = set(m2["files"])
    assert set(m5["removed"]) == set(read_manifest(root, 4)["files"]) - clustered_files
    assert clustered_files <= set(m5["files"])  # carried by reference
    kept_inc, _ = pruned_files(root, 5, preds)
    assert len(kept_inc) < len(kept_drift)
    # rows identical across the rewrite
    def rows(v):
        return sorted(
            (r.x, r.y)
            for r in read_version(spark, root, v).select("x", "y").collect()
        )

    assert rows(4) == rows(5)
    # nothing drifted now: no-op
    assert zorder_table(
        spark, root, ["x", "y"], target_files=4, incremental=True
    ) == 5


def test_key_membership_filters_prune_unclustered_merges(spark, root):
    """io12: on a key the table is NOT clustered on, every file's zone
    range overlaps and zone maps prune nothing — per-file Bloom
    membership filters still restrict the merge's rewrite set to the
    files that really contain the probed keys (plus false positives).
    Point key-IN reads plan the same way via key_membership_pruned."""
    from querysight_spark.sources.versioned import (
        key_membership_pruned,
        merge_into,
        _touched_by_keys,
    )

    # 8 appends; each spans the WHOLE key domain (unclustered layout)
    for i in range(8):
        part = spark.range(0, 4096).where(
            F.col("id") % 8 == i
        ).select("id", (F.col("id") * 10).alias("v")).coalesce(1)
        merged_kwargs = (
            {"stats_cols": ["id"], "key_filter_cols": ["id"]}
            if i == 0 else {}
        )
        write_version(spark, part, root, **merged_kwargs)
    m = read_manifest(root, 8)
    assert len(m["files"]) == 8
    assert m["kf_cols"] == ["id"]
    assert set(m["kf"]) == set(m["files"])  # every file filtered
    # three keys living in exactly two distinct files (id%8 buckets)
    probe = [16, 24, 1000]  # buckets 0, 0, 0 -> pick spread keys
    probe = [16, 17, 1001]  # buckets 0, 1, 1 -> two files
    keys = spark.createDataFrame([(k,) for k in probe], ["id"])
    touched, untouched = _touched_by_keys(spark, root, m, keys, "id")
    assert len(touched) < 8  # zone maps alone would touch all 8
    true_files = {f for f in m["files"] if _bucket_of(f, m) in (0, 1)}
    assert true_files <= set(touched)  # no false negatives, ever
    # key-IN point-read planning: same filters, pure driver-side
    kept, skipped = key_membership_pruned(root, 8, "id", probe)
    assert set(kept) == set(touched) and len(skipped) == len(untouched)
    # the merge itself rewrites only the touched files and stays exact
    src = spark.createDataFrame([(k, -1) for k in probe], ["id", "v"])
    v9 = merge_into(spark, src, root, ["id"])
    m9 = read_manifest(root, v9)
    assert set(m9["removed"]) == set(touched)
    got = {r.id: r.v for r in read_version(spark, root).collect()}
    assert all(got[k] == -1 for k in probe)
    assert len(got) == 4096 and got[8] == 80
    # maintenance keeps the snapshot filter-covered: every current
    # file (carried or rewritten) still has a filter
    assert set(m9["kf"]) == set(m9["files"])


def test_key_filter_sidecars_spill_and_probe_lazily(spark, root):
    """Filters past the inline threshold spill to a sidecar beside the
    data file (manifests stay metadata-sized at production file
    sizes); probes read them lazily, and an overwrite leaves the old
    snapshot's sidecars in place for time travel."""
    import glob

    from querysight_spark.sources.versioned import (
        _KF_INLINE_BITS,
        key_membership_pruned,
    )

    # 2 files x 8192 rows -> m ~ 81920 bits >> inline threshold
    write_version(
        spark,
        spark.range(0, 16384).select(
            "id", (F.col("id") * 3).alias("v")
        ).repartitionByRange(2, "id"),
        root,
        stats_cols=["id"],
        key_filter_cols=["id"],
    )
    m = read_manifest(root, 1)
    for f in m["files"]:
        filt = m["kf"][f]["id"]
        assert "p" in filt and "b" not in filt
        assert filt["m"] > _KF_INLINE_BITS
    sidecars = glob.glob(os.path.join(root, "data", "**", "*.kf"),
                         recursive=True)
    assert len(sidecars) == 2
    kept, skipped = key_membership_pruned(root, 1, "id", [5])
    assert len(kept) == 1 and len(skipped) == 1
    # overwrite: v2's filters probe, and v1's sidecars stay for travel
    write_version(
        spark, _df(spark, 0, 10), root, mode="overwrite",
        key_filter_cols=["id"],
    )
    kept2, _ = key_membership_pruned(root, 2, "id", [5])
    assert kept2
    assert all(os.path.exists(p) for p in sidecars)
    kept1, _ = key_membership_pruned(root, 1, "id", [5])
    assert kept1 == kept


def test_membership_probe_survives_null_keys_in_source(spark, root):
    """Arrow->pandas promotes an int key column WITH NULLS to float64
    inside the probe UDF (5 arrives as 5.0, null as NaN); both hash
    sides canonicalize integral floats to the int path, so a source
    containing a NULL key must not false-negative the real keys'
    files during merge planning."""
    from querysight_spark.sources.versioned import _touched_by_keys

    for i in range(4):
        part = spark.range(0, 1000).where(
            F.col("id") % 4 == i
        ).select("id", (F.col("id") * 10).alias("v")).coalesce(1)
        kwargs = (
            {"stats_cols": ["id"], "key_filter_cols": ["id"]}
            if i == 0 else {}
        )
        write_version(spark, part, root, **kwargs)
    m = read_manifest(root, 4)
    keys = spark.createDataFrame(
        [(8,), (None,), (13,)], "id long"
    )
    touched, _ = _touched_by_keys(spark, root, m, keys, "id")
    # keys 8 (bucket 0) and 13 (bucket 1) MUST plan their files even
    # though the null key turned the probe batch into float64
    from querysight_spark.sources.versioned import _commit_of

    got_buckets = {_commit_of(f) - 1 for f in touched}
    assert {0, 1} <= got_buckets


def test_key_filters_on_string_keys(spark, root):
    """String keys (the common LLM-pipeline shape: doc_id strings)
    build through the vectorized siphash kernel and probe through its
    scalar twin — no false negatives, point lookups prune, merge
    planning restricts on the unclustered string key."""
    from querysight_spark.sources.versioned import (
        key_membership_pruned,
        merge_into,
    )

    for i in range(6):
        part = (
            spark.range(0, 3000)
            .where(F.col("id") % 6 == i)
            .select(
                F.concat(F.lit("doc-"), F.col("id").cast("string")).alias(
                    "doc_id"
                ),
                (F.col("id") * 10).alias("v"),
            )
            .coalesce(1)
        )
        kwargs = {"key_filter_cols": ["doc_id"]} if i == 0 else {}
        write_version(spark, part, root, **kwargs)
    m = read_manifest(root, 6)
    assert set(m["kf"]) == set(m["files"])
    probe = ["doc-12", "doc-13"]  # buckets 0 and 1 -> two files
    kept, skipped = key_membership_pruned(root, 6, "doc_id", probe)
    assert len(kept) < 6 and skipped
    df = read_version(spark, root, keys_in=("doc_id", probe))
    assert {(r.doc_id, r.v) for r in df.collect()} == {
        ("doc-12", 120), ("doc-13", 130)
    }
    src = spark.createDataFrame(
        [(k, -1) for k in probe], "doc_id string, v long"
    )
    v7 = merge_into(spark, src, root, ["doc_id"])
    m7 = read_manifest(root, v7)
    assert 0 < len(m7["removed"]) < 6  # membership restricted the rewrite
    got = {r.doc_id: r.v for r in read_version(spark, root).collect()}
    assert got["doc-12"] == -1 and got["doc-13"] == -1
    assert got["doc-14"] == 140 and len(got) == 3000


def test_read_version_keys_in_point_lookup(spark, root):
    """read_version(keys_in=...) plans point lookups from the
    membership filters (driver-side metadata) and applies the IN
    residual: exact rows back, and the scan's file list is the
    membership-kept subset, not the snapshot."""
    from querysight_spark.sources.versioned import key_membership_pruned

    for i in range(8):
        part = spark.range(0, 4096).where(
            F.col("id") % 8 == i
        ).select("id", (F.col("id") * 10).alias("v")).coalesce(1)
        kwargs = (
            {"stats_cols": ["id"], "key_filter_cols": ["id"]}
            if i == 0 else {}
        )
        write_version(spark, part, root, **kwargs)
    probe = [40, 41]  # buckets 0 and 1
    df = read_version(spark, root, keys_in=("id", probe))
    assert {(r.id, r.v) for r in df.collect()} == {(40, 400), (41, 410)}
    kept, skipped = key_membership_pruned(root, 8, "id", probe)
    assert skipped  # the plan really pruned files
    # the physical scan reads only membership-kept files
    scanned = {os.path.basename(p) for p in df.inputFiles()}
    assert scanned == {os.path.basename(f) for f in kept}
    # a probe for absent keys returns empty (whatever files FPs admit)
    assert read_version(
        spark, root, keys_in=("id", [999999])
    ).count() == 0


def _bucket_of(f, manifest):
    """Which id%8 bucket a test file holds: files were written one
    bucket per commit, so the file's effective committed version
    identifies it (commit i+1 held bucket i)."""
    from querysight_spark.sources.versioned import _commit_of

    return manifest["fv"].get(f, _commit_of(f)) - 1


def test_key_filters_survive_zorder_and_compact(spark, root):
    """Every commit path keeps the snapshot filter-covered: after
    zorder and DV-compaction rewrites, the new files carry freshly
    built filters and membership pruning still has no false
    negatives."""
    from querysight_spark.sources.versioned import (
        compact_table,
        delete_keys,
        key_membership_pruned,
        zorder_table,
    )

    write_version(
        spark,
        spark.range(0, 2048).select(
            "id",
            ((F.col("id") * 2654435761) % 2048).alias("y"),
        ).repartitionByRange(8, "id"),
        root,
        stats_cols=["id", "y"],
        key_filter_cols=["y"],
    )
    zorder_table(spark, root, ["id", "y"], target_files=8)
    m = read_manifest(root, 2)
    assert set(m["kf"]) == set(m["files"])
    y_of_5 = (5 * 2654435761) % 2048
    kept, skipped = key_membership_pruned(root, 2, "y", [y_of_5])
    assert skipped  # something pruned
    rows = read_version(spark, root).where(F.col("y") == y_of_5)
    files_with_key = {
        os.path.relpath(r[0], os.path.realpath(root))
        for r in rows.select(
            F.regexp_replace(
                F.input_file_name(), "^file:", ""
            )
        ).distinct().collect()
    }
    assert files_with_key <= set(kept)  # no false negatives
    delete_keys(
        spark, root,
        spark.createDataFrame([(int(y_of_5),)], ["y"]),
    )
    compact_table(spark, root)
    m4 = read_manifest(root, 4)
    assert set(m4["kf"]) == set(m4["files"])
    kept4, _ = key_membership_pruned(root, 4, "y", [y_of_5])
    # the deleted key's rows are gone; membership may still admit the
    # rewritten file (stale positives are legal), reads stay exact
    assert read_version(spark, root).where(
        F.col("y") == y_of_5
    ).count() == 0


def test_aggregate_mv_refresh_survives_base_maintenance(spark, tmp_path):
    """The nightly-rollup contract across maintenance: the incremental
    MV refresher consumes file-level CDC, and a zorder/optimize on the
    base between refreshes must read as silence (pre-round-8 it raised
    and the rollup pipeline wedged). Values stay exact against a
    from-scratch aggregate."""
    from querysight_spark.sources.versioned import (
        optimize_table,
        read_version,
        refresh_aggregate_mv,
        zorder_table,
    )

    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 2).alias("x"),
            ((F.col("id") * 2654435761) % 1000).alias("y"),
        )

    write_version(
        spark, batch(0, 500).repartitionByRange(4, "x"), base,
        stats_cols=["x", "y"],
    )
    refresh_aggregate_mv(spark, base, mv, ["g"], ["x"])
    write_version(spark, batch(500, 800).repartition(3), base)
    zorder_table(spark, base, ["x", "y"], target_files=4)  # maintenance
    write_version(spark, batch(800, 1000).repartition(2), base)
    optimize_table(spark, base, min_rows_per_file=250)     # maintenance
    refresh_aggregate_mv(spark, base, mv, ["g"], ["x"])
    got = {
        r.g: (r.n_rows, r.sum_x)
        for r in read_version(spark, mv).collect()
    }
    want = {
        r.g: (r.n, r.s)
        for r in read_version(spark, base)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
        .collect()
    }
    assert got == want


def _df2(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 400).alias("y"),
        (F.col("id") * 10).alias("v"),
    )


@pytest.fixture()
def corpus8(spark):
    rows = [
        (1, "spark query engine"),
        (2, "query planner rules"),
        (3, "vector search engine"),
        (4, "stream processing spark"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])
