"""Round-10 pins: the r9 ADVICE findings on the versioned log's
concurrency and cache edges — the executor sidecar cache is LRU with a
running byte total and never caches an over-cap bitmap, the
raw-manifest cache keys on inode so an equal-size same-mtime
``os.replace`` can't serve stale bytes, and ``read_manifest`` returns
fresh containers a caller may mutate without corrupting the
process-wide cache — plus the parquet-anchor and key-filter rebuild
pins."""

from __future__ import annotations

import json
import os

import pytest

import querysight_spark.sources.versioned as vmod
from querysight_spark.sources.versioned import (
    read_manifest,
    read_version,
    table_version,
    write_version,
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "table")


def _kv(spark, ids):
    return spark.createDataFrame(
        [(int(i), int(i) * 10) for i in ids], "id long, v long"
    )


def test_exec_cache_lru_and_oversize_bypass(tmp_path, monkeypatch):
    """VERDICT r9 ask #5 + ADVICE r9: the executor sidecar cache moves
    a hit to most-recently-used (a re-probed filter survives an
    eviction pass), keeps a running byte total, and serves an over-cap
    bitmap without inserting it."""
    paths = []
    for i in range(3):
        p = str(tmp_path / f"f{i}.kf")
        with open(p, "wb") as f:
            f.write(bytes([i]) * 100)
        paths.append(p)
    big = str(tmp_path / "big.kf")
    with open(big, "wb") as f:
        f.write(b"\xff" * 1000)
    monkeypatch.setattr(vmod, "_KF_EXEC_CACHE", {})
    monkeypatch.setattr(vmod, "_KF_EXEC_CACHE_BYTES", 0)
    monkeypatch.setattr(vmod, "_KF_EXEC_CACHE_CAP", 250)
    vmod._kf_exec_raw(paths[0], None)
    vmod._kf_exec_raw(paths[1], None)
    # re-probe f0: without move-to-end it would be evicted next
    assert vmod._kf_exec_raw(paths[0], None) == b"\x00" * 100
    vmod._kf_exec_raw(paths[2], None)  # over cap: evicts LRU = f1
    assert paths[0] in vmod._KF_EXEC_CACHE, "re-probed filter evicted"
    assert paths[1] not in vmod._KF_EXEC_CACHE
    assert vmod._KF_EXEC_CACHE_BYTES == sum(
        len(b) for b in vmod._KF_EXEC_CACHE.values()
    )
    # oversize bitmap: correct bytes back, never cached, total unmoved
    before = vmod._KF_EXEC_CACHE_BYTES
    assert vmod._kf_exec_raw(big, None) == b"\xff" * 1000
    assert big not in vmod._KF_EXEC_CACHE
    assert vmod._KF_EXEC_CACHE_BYTES == before


def test_manifest_cache_detects_equal_size_replace(spark, root):
    """ADVICE r9: the raw-manifest cache must key on inode too — an
    os.replace rewrite of equal size with a (forced) equal mtime would
    otherwise serve the stale cached form."""
    write_version(spark, _kv(spark, [1]), root)
    path = vmod._manifest_path(root, 1)
    old = vmod._load_manifest_raw(root, 1)  # warm the cache
    st = os.stat(path)
    raw = json.load(open(path))
    raw["op"] = "XPPEND"  # same length as "append"
    tmp = path + ".tmp-test"
    with open(tmp, "w") as f:
        json.dump(raw, f)
    os.utime(tmp, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(tmp, path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_mtime_ns, st2.st_size) == (st.st_mtime_ns, st.st_size)
    got = vmod._load_manifest_raw(root, 1)
    assert got["op"] == "XPPEND", "stale cache served across os.replace"
    assert old["op"] == "append"


@pytest.fixture()
def parquet_anchors(monkeypatch):
    """Force every anchor into the parquet-sidecar form (production
    threshold is 512 files; these tables are small)."""
    monkeypatch.setattr(vmod, "_ANCHOR_PARQUET_MIN", 1)
    monkeypatch.setattr(vmod, "_ANCHOR_SIDE_CACHE", {})


def test_parquet_anchor_fold_and_hydrate(spark, root, parquet_anchors):
    """VERDICT r10 ask #1: large anchors store their file list + maps
    as a parquet sidecar — the JSON manifest keeps a pointer, counts,
    and a content hash — and every reader surface (hydration, reads,
    membership planning) sees the identical full form."""
    n = vmod._ANCHOR_EVERY + 8
    for i in range(n):
        write_version(spark, _kv(spark, [i]).coalesce(1), root,
                      stats_cols=["id"], key_filter_cols=["id"])
    for av in (1, vmod._ANCHOR_EVERY + 1):
        raw = vmod._load_manifest_raw(root, av)
        assert raw["anchor_parquet"].startswith("anchor-v")
        assert raw["anchor_sha256"] and raw["anchor_counts"] == [av, 0]
        for k in ("files", "dvs", "stats", "kf", "fv", "dvv"):
            assert k not in raw, f"anchor v{av} still carries {k} JSON"
        side = os.path.join(root, "_manifests", raw["anchor_parquet"])
        assert os.path.exists(side)
    for v in (1, vmod._ANCHOR_EVERY + 1, n):
        m = read_manifest(root, v)
        assert len(m["files"]) == v
        assert set(m["stats"]) == set(m["kf"]) == set(m["files"])
        assert "anchor_parquet" not in m
    assert read_version(spark, root).count() == n
    assert read_version(spark, root, version=5).count() == 5
    kept, skipped = vmod.key_membership_pruned(root, n, "id", [3])
    assert len(kept) < n and skipped


def test_parquet_anchor_equals_json_anchor(spark, tmp_path, monkeypatch):
    """The two anchor encodings are interchangeable: the same commit
    sequence hydrates to byte-identical manifests either way."""
    roots = {}
    for form, thresh in (("json", 10**9), ("parquet", 1)):
        monkeypatch.setattr(vmod, "_ANCHOR_PARQUET_MIN", thresh)
        monkeypatch.setattr(vmod, "_ANCHOR_SIDE_CACHE", {})
        r = str(tmp_path / form)
        for i in range(vmod._ANCHOR_EVERY + 3):
            df = spark.createDataFrame(
                [(int(i), float(i))], "id long, x double"
            ).coalesce(1)
            write_version(spark, df, r, stats_cols=["id", "x"],
                          key_filter_cols=["id"])
        roots[form] = r
    def canon(m):
        # commit dirs carry a per-commit uuid, so paths differ between
        # the two roots: re-key every per-file map by the file's
        # position in the snapshot list, and drop the kf bitmap's
        # content (built from identical rows but hashed per file path
        # order — compare its sizing fields instead)
        idx = {p: i for i, p in enumerate(m["files"])}
        kf = {
            idx[p]: {c: {kk: f[kk] for kk in ("m", "k")}
                     for c, f in cols.items()}
            for p, cols in m.get("kf", {}).items()
        }
        return {
            "n": len(m["files"]),
            "stats": {idx[p]: s for p, s in m.get("stats", {}).items()},
            "kf": kf,
            "fv": {idx[p]: v for p, v in m.get("fv", {}).items()},
            "dvv": m.get("dvv"),
            "dv_key": m.get("dv_key"),
            "stats_cols": m.get("stats_cols"),
            "kf_cols": m.get("kf_cols"),
            "op": m.get("op"),
            "version": m.get("version"),
        }

    for v in (1, 2, vmod._ANCHOR_EVERY + 1, vmod._ANCHOR_EVERY + 3):
        a = canon(read_manifest(roots["json"], v))
        b = canon(read_manifest(roots["parquet"], v))
        assert a == b, f"v{v} diverged"


def test_rollback_across_parquet_anchor_boundary(
    spark, root, parquet_anchors
):
    """Round-9 rollback invariant re-pinned on the parquet format:
    files re-entering via a rollback whose target sits in a previous
    (parquet-encoded) anchor window keep their true committed versions
    and key filters."""
    from querysight_spark.sources.versioned import rollback

    n = vmod._ANCHOR_EVERY + 4
    for i in range(n):
        write_version(spark, _kv(spark, [i]).coalesce(1), root,
                      key_filter_cols=["id"])
    target = read_manifest(root, 3)
    write_version(spark, _kv(spark, [99]), root, mode="overwrite")
    v = rollback(root, 3)
    m = read_manifest(root, v)
    assert set(m["files"]) == set(target["files"])
    assert set(m["kf"]) == set(target["kf"])
    assert read_version(spark, root).count() == 3


def test_parquet_anchor_never_carries_dead_files(
    spark, root, parquet_anchors
):
    """Round-9 dead-files invariant re-pinned on the parquet format:
    after maintenance rewrites, every version's hydrated stats/kf keys
    are exactly a subset of its live file list."""
    from pyspark.sql import functions as F

    from querysight_spark.sources.versioned import merge_into, zorder_table

    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            F.col("id"), (F.col("id") % 7).alias("g")
        )
        write_version(spark, df, root, stats_cols=["id"],
                      key_filter_cols=["id"])
    zorder_table(spark, root, ["id", "g"], target_files=4)
    merge_into(
        spark,
        spark.createDataFrame(
            [(5, 1), (50, 2), (500, 3)], "id long, g long"
        ),
        root,
        ["id"],
    )
    for v in range(1, table_version(root) + 1):
        m = read_manifest(root, v)
        live = set(m["files"])
        assert set(m.get("stats", {})) <= live, f"v{v} stale stats"
        assert set(m.get("kf", {})) <= live, f"v{v} stale kf"


def test_parquet_anchor_hash_mismatch_detected(
    spark, root, parquet_anchors
):
    """A corrupt (or swapped) anchor sidecar must fail loudly, not
    hydrate garbage."""
    write_version(spark, _kv(spark, [1, 2]), root)
    raw = vmod._load_manifest_raw(root, 1)
    side = os.path.join(root, "_manifests", raw["anchor_parquet"])
    data = open(side, "rb").read()
    with open(side, "wb") as f:
        f.write(data[:-1] + bytes([data[-1] ^ 0xFF]))
    vmod._ANCHOR_SIDE_CACHE.clear()
    with pytest.raises(ValueError, match="content-hash mismatch"):
        read_manifest(root, 1)


def test_rows_map_recorded_delta_folded_and_anchored(
    spark, root, parquet_anchors
):
    """Round 10: every commit records its added files' footer row
    counts in the manifest (``rows``), delta-folded between anchors
    and carried through the parquet sidecar, so maintenance gates plan
    with zero data IO."""
    import pyarrow.parquet as pq

    n = vmod._ANCHOR_EVERY + 3
    for i in range(n):
        write_version(
            spark, _kv(spark, range(i + 1)).coalesce(1), root
        )
    m = read_manifest(root, n)
    assert set(m["rows"]) == set(m["files"])
    for f in m["files"]:
        real = pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        assert m["rows"][f] == real, f
    # a delta manifest carries only its commit's new entries
    raw = vmod._load_manifest_raw(root, n)
    assert raw.get("delta_maps") and len(raw["rows_add"]) == 1
    # the parquet anchor carried the map across the fold
    assert set(read_manifest(root, vmod._ANCHOR_EVERY + 1)["rows"]) == set(
        read_manifest(root, vmod._ANCHOR_EVERY + 1)["files"]
    )


def test_key_filter_saturation_rebuild_recovers_pruning(spark, root):
    """VERDICT r10 ask #4: filters record their ones-density at build
    time; a table driven past saturation (1 bit/key -> ~0.63 fill,
    fpr ~= fill^k admits almost every probe) recovers its membership
    pruning after rebuild_key_filters — one metadata commit, no data
    rows move, and the saturated history stays probe-correct."""
    from querysight_spark.sources.versioned import (
        key_membership_pruned,
        rebuild_key_filters,
    )

    n_files, rows = 8, 20_000
    for i in range(n_files):
        df = spark.range(i * rows, (i + 1) * rows).selectExpr(
            "id", "id * 2 as v"
        )
        write_version(spark, df.coalesce(1), root,
                      key_filter_cols=["id"], key_filter_bits=1)
    v1 = table_version(root)
    m1 = read_manifest(root, v1)
    dens = [c["id"]["d"] for c in m1["kf"].values()]
    assert all(d > 0.6 for d in dens), dens
    kept_before, _ = key_membership_pruned(root, v1, "id", [123])
    assert len(kept_before) >= 3, "saturated filters should admit most"
    v2 = rebuild_key_filters(spark, root, bits=10)
    assert v2 == v1 + 1
    m2 = read_manifest(root, v2)
    assert m2["op"] == "kf_rebuild" and m2["kf_bits"] == 10
    assert all(c["id"]["d"] < 0.6 for c in m2["kf"].values())
    kept_after, skipped_after = key_membership_pruned(
        root, v2, "id", [123]
    )
    assert len(kept_after) <= 2 and len(skipped_after) >= 6
    # no false negative: the true file is admitted
    assert read_version(spark, root).where("id = 123").count() == 1
    # rows untouched; the rebuild was metadata-only
    assert m2["files"] == m1["files"]
    assert read_version(spark, root).count() == n_files * rows
    # the OLD version still probes through its old (saturated) bitmaps
    kept_old, _ = key_membership_pruned(root, v1, "id", [123])
    assert set(kept_old) == set(kept_before)
    # a second pass is a no-op (nothing saturated anymore)
    assert rebuild_key_filters(spark, root, bits=10) == v2
    # vintage-named sidecars coexist: v1 still references the old ones
    data_dirs = [
        os.path.join(root, os.path.dirname(f)) for f in m2["files"]
    ]
    names = [
        n for d in set(data_dirs) for n in os.listdir(d)
        if n.endswith(".kf")
    ]
    assert any(f".r{v2}." in n for n in names)
    assert any(f".r{v2}." not in n for n in names)


def test_auto_checkpoint_at_anchor_cadence(spark, root):
    """The anchor commit writes a checkpoint holding every txn so far;
    retries of a checkpointed txn and of one committed after it both
    no-op."""
    from querysight_spark.sources.versioned import _latest_checkpoint

    n = vmod._ANCHOR_EVERY + 1
    for i in range(n):
        write_version(spark, _kv(spark, [i]).coalesce(1), root,
                      txn_id=f"t:{i + 1}")
    ckpt = _latest_checkpoint(root)
    assert ckpt is not None and ckpt["version"] == vmod._ANCHOR_EVERY + 1
    assert ckpt["txns"] == {f"t:{v}": v for v in range(1, n + 1)}
    # retries find their txn (no duplicate append)
    assert write_version(
        spark, _kv(spark, [4]).coalesce(1), root, txn_id="t:5"
    ) == 5
    v = write_version(spark, _kv(spark, [999]).coalesce(1), root,
                      txn_id="t:final")
    assert v == table_version(root)
    assert write_version(
        spark, _kv(spark, [999]).coalesce(1), root, txn_id="t:final"
    ) == v
    assert read_version(spark, root).count() == n + 1  # no double rows


def test_anchor_claim_race_loser_unlinks_sidecar(
    spark, root, parquet_anchors, monkeypatch
):
    """A commit that writes its anchor sidecar and then loses the
    version-claim race must unlink that sidecar before retrying —
    exactly one referenced anchor sidecar remains for the version."""
    import os as _os

    for i in range(vmod._ANCHOR_EVERY):
        write_version(spark, _kv(spark, [i]).coalesce(1), root)
    real_link = _os.link
    raced = {"n": 0}

    def flaky_link(src, dst, *a, **kw):
        if dst.endswith("v00000033.json") and raced["n"] == 0:
            raced["n"] += 1
            raise FileExistsError(dst)  # a racer claimed it first
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(vmod.os, "link", flaky_link)
    v = write_version(spark, _kv(spark, [99]).coalesce(1), root)
    monkeypatch.undo()
    assert raced["n"] == 1, "test must exercise the lost claim"
    assert v == vmod._ANCHOR_EVERY + 1
    mdir = os.path.join(root, "_manifests")
    v33_sidecars = [
        f for f in os.listdir(mdir)
        if f.startswith("anchor-v00000033-")
    ]
    raw = vmod._load_manifest_raw(root, v)
    assert v33_sidecars == [raw["anchor_parquet"]], (
        "the losing attempt's sidecar must be unlinked"
    )
    m = read_manifest(root, v)
    assert len(m["files"]) == v
    assert read_version(spark, root).count() == vmod._ANCHOR_EVERY + 1


def test_read_manifest_returns_fresh_containers(spark, root):
    """ADVICE r9: mutating read_manifest's returned containers must
    not corrupt later reads (the raw cache shares nested objects)."""
    write_version(spark, _kv(spark, [1, 2]), root,
                  stats_cols=["id"], key_filter_cols=["id"])
    write_version(spark, _kv(spark, [3]), root)  # a delta manifest
    for v in (1, 2):
        m = read_manifest(root, v)
        m["files"].clear()
        m["stats"].clear()
        m["kf"].clear()
        m.get("added", []).clear()
        m.get("dvs", ["x"]).clear()
        m2 = read_manifest(root, v)
        assert m2["files"] and m2["stats"] and m2["kf"], (
            f"v{v}: caller mutation leaked into the manifest cache"
        )
    assert read_version(spark, root).count() == 3
