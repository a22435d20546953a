"""Round-9 pins: the r8 ADVICE findings and VERDICT asks on the
key-membership planner — no Bloom false negative when Arrow promotes a
null-bearing int64 key batch past 2^53, the driver never reading
sidecar bitmaps past the candidate threshold (executor-side broadcast
probe), compound-key merges intersecting per-column filters, NaN keys
disabling zone pruning (NaN join-matches NaN in Spark but is invisible
to footer stats), and manifests never re-carrying stats/kf entries for
files that left the snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from querysight_spark.sources.versioned import (
    key_membership_pruned,
    merge_into,
    read_manifest,
    read_version,
    table_version,
    write_version,
    zorder_table,
)

BIG = (1 << 53) + 3  # not float64-representable: promotion rounds it


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "table")


def _kv(spark, ids):
    return spark.createDataFrame(
        [(int(i), int(i) * 10) for i in ids], "id long, v long"
    )


def test_merge_big_key_with_null_in_source_updates_not_duplicates(
    spark, root
):
    """The r8 ADVICE medium: a merge source whose key batch carries a
    NULL makes Arrow->pandas promote int64 keys to float64; past 2^53
    the promoted value ROUNDS, so hashing it probed the WRONG key and
    the true file was skipped — the matched row then re-inserted as a
    duplicate. Round 9 drops NULL probe keys before the batch (NULL
    never equality-matches), keeping the batch int64 and the hash
    exact."""
    base = spark.createDataFrame(
        [(BIG, 1), (7, 2)], "id long, v long"
    )
    write_version(spark, base, root, key_filter_cols=["id"])
    source = spark.createDataFrame(
        [(BIG, 100), (None, 200)],
        "id long, v long",
    )
    merge_into(spark, source, root, ["id"])
    out = {
        r["id"]: r["v"]
        for r in read_version(spark, root).collect()
        if r["id"] is not None
    }
    rows = read_version(spark, root).collect()
    # the big key UPDATED in place (one row, new value), the null-key
    # source row inserted, key 7 untouched
    assert out[BIG] == 100 and out[7] == 2
    assert sum(1 for r in rows if r["id"] == BIG) == 1
    assert sum(1 for r in rows if r["id"] is None) == 1


def test_point_probe_with_precision_suspect_float_keeps_all_files(
    spark, root
):
    """A float-carried integral probe value >= 2^53 cannot be hashed
    safely (it may be a rounded int64): ``key_membership_pruned`` must
    keep every file rather than risk a false negative."""
    write_version(spark, _kv(spark, [1, 2, 3]), root,
                  key_filter_cols=["id"])
    write_version(spark, _kv(spark, [4, 5, 6]), root,
                  key_filter_cols=["id"])
    files = read_manifest(root, table_version(root))["files"]
    kept, skipped = key_membership_pruned(
        root, table_version(root), "id", [float(BIG)]
    )
    assert kept == files and skipped == []
    # exact ints still prune
    kept2, skipped2 = key_membership_pruned(
        root, table_version(root), "id", [5]
    )
    assert len(kept2) < len(files) and skipped2


def test_driver_never_reads_sidecars_past_threshold(
    spark, root, monkeypatch
):
    """VERDICT r9 ask #1: past ``_KF_DRIVER_LOAD_MAX`` zone-admitted
    candidates the membership probe must not materialize filter bytes
    on the driver — sidecar bitmaps ship as paths in a broadcast and
    load executor-side. Pin: with 10 sidecar-filtered candidate files,
    ``_kf_raw_many`` (the driver's only bitmap loader) raising proves
    it was never called, and the probe still prunes correctly."""
    import querysight_spark.sources.versioned as vmod

    # 10 files x 2000 rows: m = 20k bits > the 2 KiB inline cap, so
    # every filter spills to a sidecar; keys are globally interleaved
    # (id % 10) so zone ranges all overlap -> zone stage admits all
    for i in range(10):
        df = spark.range(i, 20000, 10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1)  # one 2000-row file per commit -> sidecar-sized
        write_version(spark, df, root, key_filter_cols=["id"])
    version = table_version(root)
    manifest = read_manifest(root, version)
    assert all(
        "p" in filt["id"] for filt in manifest["kf"].values()
    ), "expected every filter spilled to a sidecar"

    def _boom(*a, **k):
        raise AssertionError(
            "driver loaded sidecar bitmaps past the threshold"
        )

    monkeypatch.setattr(vmod, "_kf_raw_many", _boom)
    # a SMALL probe set from one file's residue class — the regime
    # membership pruning serves (per-file admit probability is
    # 1-(1-fpr)^q, so q must stay well under 1/fpr ~ 100; a probe of
    # thousands of keys saturates every filter's false positives and
    # prunes nothing — zone clustering is the lever there)
    keys = spark.createDataFrame(
        [(3,), (13,), (1003,), (10003,), (19993,)], "id long"
    )
    touched, untouched = vmod._touched_by_keys(
        spark, root, manifest, keys, "id"
    )
    true_file = manifest["files"][3]  # commit 4 holds residue class 3
    assert true_file in touched
    assert len(touched) <= 3 and len(untouched) >= 7  # ~1% FPR slack


def test_key_filter_bits_knob_sizes_filters_and_sticks(spark, root):
    """Round-10 continuity #2 pulled forward: ``key_filter_bits``
    sizes the per-file filters (m ~ bits x rows, k ~ 0.693 x bits) and
    is STICKY — later appends build at the table's rate; more bits ->
    measurably fewer false positives on absent keys."""
    from querysight_spark.sources.versioned import (
        _kf_hash_pair,
        _kf_hit,
        _kf_raw,
    )

    def _fpr(r, bits):
        df = spark.range(0, 1000).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1)
        write_version(spark, df, r, key_filter_cols=["id"],
                      key_filter_bits=bits)
        # sticky: a bare append keeps the table's rate
        write_version(
            spark,
            spark.range(1000, 2000).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ).coalesce(1),
            r,
        )
        m = read_manifest(r, table_version(r))
        assert m["kf_bits"] == bits
        hits = trials = 0
        for f in m["files"]:
            filt = m["kf"][f]["id"]
            assert abs(filt["m"] - bits * 1000) <= 8
            raw = _kf_raw(r, f, filt)
            for a in range(5000, 6000):  # absent keys
                h1, h2 = _kf_hash_pair(a)
                hits += _kf_hit(filt, h1, h2, raw)
                trials += 1
        return hits / trials

    fpr8 = _fpr(root + "_8", 8)
    fpr16 = _fpr(root + "_16", 16)
    assert fpr16 < fpr8 / 4  # ~ (0.6185^8 vs ^16): >4x better
    assert fpr8 < 0.05


def test_chunked_probe_matches_unchunked(spark, root, monkeypatch):
    """Round-10 continuity #3 pulled forward: when candidates' total
    bitmap bytes exceed the per-job budget the probe runs in chunks —
    same admitted set, still no driver sidecar reads."""
    import querysight_spark.sources.versioned as vmod

    for i in range(10):
        df = spark.range(i, 20000, 10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1)
        write_version(spark, df, root, key_filter_cols=["id"])
    manifest = read_manifest(root, table_version(root))
    keys = spark.createDataFrame(
        [(3,), (13,), (1003,), (10003,), (19993,)], "id long"
    )
    baseline, _ = vmod._touched_by_keys(spark, root, manifest, keys, "id")
    # each filter is 20k bits = 2.5 KB; a 6 KB budget forces ~5 chunks
    monkeypatch.setattr(vmod, "_KF_PROBE_CHUNK_BYTES", 6000)
    monkeypatch.setattr(
        vmod, "_kf_raw_many",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("driver read sidecars")
        ),
    )
    chunked, _ = vmod._touched_by_keys(spark, root, manifest, keys, "id")
    assert chunked == baseline and len(chunked) <= 3


def test_compound_key_merge_prunes_on_selective_column(spark, root):
    """VERDICT r9 ask #2: a merge keyed on (tenant_id, doc_id) with a
    low-cardinality leading column must intersect per-column filters —
    tenant_id admits every file, doc_id admits ~one — instead of
    pruning on the first column only (which rewrote everything)."""
    # 6 files, every file carries ALL tenants but a disjoint doc range
    for i in range(6):
        df = spark.createDataFrame(
            [
                (t, i * 1000 + d, f"r{t}-{i * 1000 + d}")
                for t in (1, 2, 3)
                for d in range(200)
            ],
            "tenant_id int, doc_id int, body string",
        ).coalesce(1)  # one file per commit: disjoint doc ranges
        write_version(
            spark, df, root, key_filter_cols=["tenant_id", "doc_id"]
        )
    version = table_version(root)
    source = spark.createDataFrame(
        [(1, 2005, "updated")], "tenant_id int, doc_id int, body string"
    )
    merge_into(spark, source, root, ["tenant_id", "doc_id"])
    m = read_manifest(root, table_version(root))
    # only the one file whose doc range contains 2005 was rewritten
    assert len(m["removed"]) == 1, m["removed"]
    out = read_version(spark, root)
    assert (
        out.where("tenant_id = 1 AND doc_id = 2005")
        .collect()[0]["body"]
        == "updated"
    )
    assert out.count() == 6 * 3 * 200  # update, not duplicate


def test_nan_key_file_stays_touched(spark, root):
    """NaN keys DO join-match NaN in Spark but are invisible to
    parquet footer min/max — zone pruning must not skip a
    NaN-containing file when the probe set carries NaN."""
    import math

    import querysight_spark.sources.versioned as vmod

    df = spark.createDataFrame(
        [(1.0, 1), (float("nan"), 2)], "k double, v int"
    )
    write_version(spark, df, root, stats_cols=["k"])
    write_version(
        spark,
        spark.createDataFrame([(50.0, 3), (60.0, 4)], "k double, v int"),
        root,
    )
    manifest = read_manifest(root, table_version(root))
    keys = spark.createDataFrame([(float("nan"),)], "k double")
    touched, _un = vmod._touched_by_keys(
        spark, root, manifest, keys, "k"
    )
    stats = manifest["stats"]
    nan_files = [
        f for f in manifest["files"]
        if stats.get(f, {}).get("k", [None])[0] == 1.0
    ]
    assert nan_files and all(f in touched for f in nan_files)
    # merge end-to-end: the NaN row updates, not duplicates
    source = spark.createDataFrame(
        [(float("nan"), 20)], "k double, v int"
    )
    merge_into(spark, source, root, ["k"])
    rows = read_version(spark, root).collect()
    nan_rows = [r for r in rows if r["k"] != r["k"]]
    assert len(nan_rows) == 1 and nan_rows[0]["v"] == 20
    assert math.isnan(nan_rows[0]["k"])


def _raw_manifest(root, v):
    import json

    from querysight_spark.sources.versioned import _manifest_path

    with open(_manifest_path(root, v)) as f:
        return json.load(f)


def test_delta_manifests_fold_maps_and_hydrate(spark, root):
    """VERDICT r9 ask #3: manifests between anchors carry only their
    map DELTAS (stats/kf/fv/dvv entries new this commit) instead of
    re-serializing every file's maps; ``read_manifest`` hydrates
    transparently, so the reader contract — full maps, restricted to
    live files — is unchanged at every version."""
    from querysight_spark.sources.versioned import _ANCHOR_EVERY

    n = _ANCHOR_EVERY + 6  # cross one anchor boundary
    for i in range(n):
        write_version(
            spark, _kv(spark, [i]).coalesce(1), root,
            stats_cols=["id"], key_filter_cols=["id"],
        )
    for v in (1, _ANCHOR_EVERY + 1):
        raw = _raw_manifest(root, v)
        assert not raw.get("delta_maps"), f"v{v} should be an anchor"
        assert "stats" in raw and "kf" in raw
    for v in (2, _ANCHOR_EVERY, n):
        raw = _raw_manifest(root, v)
        if v % _ANCHOR_EVERY == 1:
            continue
        assert raw.get("delta_maps"), f"v{v} should be a delta"
        # delta carries ~one file's entries, not the whole snapshot —
        # and no file list at all (hydration replays added/removed)
        assert len(raw["stats_add"]) <= 4 and len(raw["kf_add"]) <= 4
        assert "stats" not in raw and "kf" not in raw
        assert "files" not in raw, f"v{v} should fold its file list"
    # hydration: every version's maps cover exactly its live files
    for v in (1, 2, _ANCHOR_EVERY, _ANCHOR_EVERY + 1, n):
        m = read_manifest(root, v)
        assert set(m["stats"]) == set(m["files"]), f"v{v} stats"
        assert set(m["kf"]) == set(m["files"]), f"v{v} kf"
    # reads at hydrated versions see the right rows
    assert read_version(spark, root, version=5).count() == 5
    assert read_version(spark, root).count() == n
    # point-read planning still works off hydrated filters
    kept, skipped = key_membership_pruned(
        root, table_version(root), "id", [3]
    )
    assert len(kept) < n and skipped


def test_rollback_map_invariant_across_anchor_boundary(spark, root):
    """Rollback's complete-map invariant (SCALE.md round-8 addendum 2)
    re-pinned across an anchor/fold boundary: files re-entering the
    snapshot via a rollback whose target sits in a PREVIOUS anchor
    window keep their true committed versions and key filters."""
    from querysight_spark.sources.versioned import (
        _ANCHOR_EVERY,
        rollback,
    )

    n = _ANCHOR_EVERY + 4
    for i in range(n):
        write_version(
            spark, _kv(spark, [i]).coalesce(1), root,
            key_filter_cols=["id"],
        )
    target = read_manifest(root, 3)
    # overwrite drops everything, rollback (across the anchor at
    # _ANCHOR_EVERY+1) restores v3's three files
    write_version(spark, _kv(spark, [99]), root, mode="overwrite")
    v = rollback(root, 3)
    m = read_manifest(root, v)
    assert set(m["files"]) == set(target["files"])
    # re-entering files keep their filters (no rebuild, no loss)
    assert set(m["kf"]) == set(target["kf"])
    assert read_version(spark, root).count() == 3


def test_manifest_metadata_never_carries_dead_files(spark, root):
    """ADVICE r8 low (adjudicated already-correct, pinned here so it
    stays so): after maintenance rewrites, the manifest's ``stats`` /
    ``kf`` keys are exactly a subset of its live file list — no
    dead-file entries accumulate across commits."""
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            F.col("id"), (F.col("id") % 7).alias("g")
        )
        write_version(spark, df, root, stats_cols=["id"],
                      key_filter_cols=["id"])
    zorder_table(spark, root, ["id", "g"], target_files=4)
    merge_into(spark, _kv(spark, [5, 50, 500]).withColumnRenamed(
        "v", "g"), root, ["id"])
    for v in range(1, table_version(root) + 1):
        m = read_manifest(root, v)
        live = set(m["files"])
        assert set(m.get("stats", {})) <= live, f"v{v} stale stats"
        assert set(m.get("kf", {})) <= live, f"v{v} stale kf"
