"""Round-11 pins: lazy anchor hydration (VERDICT r10 ask #1), the
anchor ``added``/``removed`` fold (continuity note #3 — overwrite-
shaped anchors carried O(files) pointer JSON), the anchor-side cache's
LRU discipline (ADVICE r10), and the per-commit anchor fold threshold
parameter replacing the io14 module-global rebind (ADVICE r10)."""

from __future__ import annotations

import json
import os

import pytest

import querysight_spark.sources.versioned as vmod
from querysight_spark.sources.versioned import (
    incremental_read,
    key_membership_pruned,
    pruned_files,
    read_changes,
    read_manifest,
    read_version,
    write_version,
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "table")


def _kv(spark, ids):
    return spark.createDataFrame(
        [(int(i), int(i) * 10) for i in ids], "id long, v long"
    )


def _clear_caches():
    vmod._ANCHOR_SIDE_CACHE.clear()
    vmod._MANIFEST_CACHE.clear()


def _write_anchored(spark, root, n=3):
    """n tiny commits whose v1 anchor folds to a parquet sidecar via
    the per-commit threshold override (no module-global rebind)."""
    for i in range(n):
        kwargs = (
            {"stats_cols": ["id"], "key_filter_cols": ["id"]}
            if i == 0
            else {}
        )
        write_version(
            spark,
            _kv(spark, [i]).coalesce(1),
            root,
            anchor_parquet_min=1,
            **kwargs,
        )


def test_anchor_min_param_folds_without_global_rebind(spark, root):
    """ADVICE r10: the fold threshold is a write_version parameter;
    the module global stays untouched."""
    keep = vmod._ANCHOR_PARQUET_MIN
    _write_anchored(spark, root)
    assert vmod._ANCHOR_PARQUET_MIN == keep
    raw = vmod._load_manifest_raw(root, 1)
    assert raw.get("anchor_parquet") and raw.get("anchor_sha256")
    assert "files" not in raw and "added" not in raw
    assert read_version(spark, root).count() == 3


def test_lazy_hydration_floor_and_upgrade(spark, root):
    """VERDICT r10 ask #1: need=() hydrates the lists + fv/dvv only
    (what a plain scan plans from); a later full hydration upgrades
    the SAME cached sidecar entry to complete, identical maps."""
    _write_anchored(spark, root)
    _clear_caches()
    lazy = read_manifest(root, 3, need=())
    assert len(lazy["files"]) == 3
    assert lazy["dvs"] == [] and "dvv" in lazy and "fv" in lazy
    assert "added" in lazy and "removed" in lazy
    # heavy maps skipped on the pure pointer-anchor chain
    assert "stats" not in lazy and "kf" not in lazy
    assert "rows" not in lazy
    # upgrade on the warm cache entry: complete maps, equal to a
    # cold full hydration
    warm_full = read_manifest(root, 3)
    _clear_caches()
    cold_full = read_manifest(root, 3)
    assert warm_full == cold_full
    assert set(warm_full["stats"]) == set(warm_full["files"])
    assert set(warm_full["kf"]) == set(warm_full["files"])
    assert set(warm_full["rows"]) == set(warm_full["files"])


def test_lazy_need_is_a_floor_on_json_manifests(spark, root):
    """Small tables keep JSON-form anchors, which carry every map
    verbatim — need=() must not strip them (the contract is a floor,
    not a projection)."""
    write_version(
        spark, _kv(spark, [1]).coalesce(1), root, stats_cols=["id"]
    )
    m = read_manifest(root, 1, need=())
    assert "stats" in m  # JSON anchor: maps are free, stay present


def test_lazy_scan_prune_membership_equivalence(spark, root):
    """Cold lazy planning (scan via file list, prune via stats-only,
    point-lookup via kf-only hydration) returns exactly what the old
    eager path did."""
    for i in range(4):
        df = _kv(spark, range(i * 10, i * 10 + 10)).coalesce(1)
        kwargs = (
            {"stats_cols": ["id"], "key_filter_cols": ["id"]}
            if i == 0
            else {}
        )
        write_version(
            spark, df, root, anchor_parquet_min=1, **kwargs
        )
    _clear_caches()
    assert read_version(spark, root).count() == 40
    _clear_caches()
    kept, skipped = pruned_files(root, 4, "id", 12, 17)
    assert len(kept) == 1 and len(skipped) == 3
    _clear_caches()
    member, pruned = key_membership_pruned(root, 4, "id", [25])
    assert len(member) >= 1 and len(member) + len(pruned) == 4
    _clear_caches()
    got = (
        read_version(spark, root, prune=("id", 12, 17))
        .agg({"id": "sum"})
        .collect()[0][0]
    )
    assert got == sum(range(12, 18))
    got2 = read_version(
        spark, root, keys_in=("id", [25, 31])
    ).count()
    assert got2 == 2


def test_anchor_folds_added_removed_lists(tmp_path):
    """Continuity r10 #3: an overwrite-shaped anchor's added/removed
    lists fold into the sidecar (pointer JSON stays ~flat instead of
    O(files)); expand restores them exactly, lazily and fully."""
    root = str(tmp_path)
    os.makedirs(os.path.join(root, vmod._MANIFESTS))
    files = [f"data/c{i + 1:08d}-ab/f{i}.parquet" for i in range(40)]
    old = [f"data/c{i + 1:08d}-zz/g{i}.parquet" for i in range(37)]
    manifest = {
        "version": 33,
        "op": "overwrite",
        "files": list(files),
        "added": list(files),
        "removed": list(old),
        "dvs": [],
        "stats": {f: {"id": [i, i + 1]} for i, f in enumerate(files)},
        "kf": {},
        "fv": {files[3]: 35},
        "dvv": {},
        "rows": {f: 10 for f in files},
    }
    side = vmod._anchor_fold(root, manifest, min_entries=1)
    assert side is not None
    assert "added" not in manifest and "removed" not in manifest
    assert manifest["anchor_ar_counts"] == [40, 37]
    pointer_bytes = len(json.dumps(manifest).encode())
    assert pointer_bytes < 1000  # flat, not O(files)
    _clear_caches()
    lazy = vmod._anchor_expand(root, manifest, need=())
    assert lazy["added"] == files and lazy["removed"] == old
    assert lazy["files"] == files and lazy["fv"] == {files[3]: 35}
    assert "stats" not in lazy
    full = vmod._anchor_expand(root, manifest)
    assert full["removed"] == old
    assert full["stats"] == {
        f: {"id": [i, i + 1]} for i, f in enumerate(files)
    }
    assert full["rows"] == {f: 10 for f in files}


def test_incremental_and_changes_across_folded_anchor(spark, root):
    """incremental_read reads raw manifests for their added lists —
    a pointer anchor (whose lists fold) must still serve them; the
    change feed crosses the same boundary hydrated."""
    _write_anchored(spark, root)  # v1 = folded anchor
    raw = vmod._load_manifest_raw(root, 1)
    assert "added" not in raw and raw.get("anchor_ar_counts")
    got = incremental_read(spark, root, 0, 3)
    assert got.count() == 3  # one row per slice, incl. the anchor's
    feed = read_changes(spark, root, 0, 3, key_cols=["id"])
    rows = {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in feed.collect()
    }
    assert rows == {(i, "insert", i + 1) for i in range(3)}


def test_anchor_side_cache_is_lru(tmp_path):
    """ADVICE r10: move-to-end on hit — a re-hydrated anchor survives
    an eviction pass when more anchors than the cap are touched."""
    root = str(tmp_path)
    os.makedirs(os.path.join(root, vmod._MANIFESTS))
    ptrs = []
    for i in range(5):
        m = {
            "version": 1 + 32 * i,
            "op": "append",
            "files": [f"data/c{1 + 32 * i:08d}-aa/f{i}.parquet"],
            "added": [],
            "removed": [],
            "dvs": [],
            "stats": {},
            "kf": {},
            "fv": {},
            "dvv": {},
            "rows": {},
        }
        assert vmod._anchor_fold(root, m, min_entries=1)
        ptrs.append(m)
    _clear_caches()
    for m in ptrs[:4]:  # fill to cap
        vmod._anchor_expand(root, m, need=())
    vmod._anchor_expand(root, ptrs[0], need=())  # hit: now MRU
    vmod._anchor_expand(root, ptrs[4], need=())  # evicts LRU = ptrs[1]
    cached = set(vmod._ANCHOR_SIDE_CACHE)
    p = os.path.join(root, vmod._MANIFESTS)
    assert os.path.join(p, ptrs[0]["anchor_parquet"]) in cached
    assert os.path.join(p, ptrs[1]["anchor_parquet"]) not in cached


# --- property pin: the anchor codec round-trips arbitrary manifests ---

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _path = st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters="/\x00"
        ),
        min_size=1,
        max_size=30,
    ).map(lambda s: f"data/c00000001-aa/{s}.parquet")
    _ints = st.integers(min_value=-(2**53), max_value=2**53)
    _flts = st.floats(allow_nan=False, allow_infinity=False, width=32)
    _txts = st.text(max_size=8)
    # zone bounds are same-typed pairs (parquet column min/max)
    _bounds = st.one_of(
        st.tuples(_ints, _ints),
        st.tuples(_flts, _flts),
        st.tuples(_txts, _txts),
    )

    @st.composite
    def _manifests(draw):
        files = draw(
            st.lists(_path, min_size=0, max_size=12, unique=True)
        )
        dvs = draw(
            st.lists(
                _path.map(lambda p: p.replace("data/", "dv/")),
                min_size=0, max_size=4, unique=True,
            )
        )
        added = draw(st.lists(st.sampled_from(files), max_size=6,
                              unique=True)) if files else []
        removed = draw(st.lists(_path, max_size=6, unique=True))
        stats = {
            f: {"id": sorted(draw(_bounds))}
            for f in files
            if draw(st.booleans())
        }
        kf = {
            f: {
                "id": {
                    "m": draw(st.integers(256, 1 << 20)),
                    "k": draw(st.integers(1, 16)),
                    "d": draw(
                        st.floats(0, 1, allow_nan=False)
                    ),
                    "p": (
                        f"{os.path.basename(f)}.id.kf"
                        if draw(st.booleans())
                        else "custom.kf"
                    ),
                }
            }
            for f in files
            if draw(st.booleans())
        }
        fv = {
            f: draw(st.integers(1, 10**6))
            for f in files
            if draw(st.booleans())
        }
        dvv = {
            d: draw(st.integers(1, 10**6))
            for d in dvs
            if draw(st.booleans())
        }
        rows = {
            f: draw(st.integers(0, 10**12))
            for f in files
            if draw(st.booleans())
        }
        return {
            "version": draw(st.integers(1, 10**6)),
            "op": "append",
            "files": files,
            "added": added,
            "removed": removed,
            "dvs": dvs,
            "stats": stats,
            "kf": kf,
            "fv": fv,
            "dvv": dvv,
            "rows": rows,
        }

    @given(_manifests())
    @settings(max_examples=60, deadline=None)
    def test_anchor_codec_roundtrip_property(tmp_path_factory, m):
        """Any manifest shape — unicode paths, empty/singleton lists,
        float/int/string zone bounds, custom (non-derived) kf sidecar
        names, sparse maps — folds and expands to EXACTLY itself,
        lazily and fully."""
        root = str(tmp_path_factory.mktemp("anchor_prop"))
        os.makedirs(os.path.join(root, vmod._MANIFESTS), exist_ok=True)
        want = {
            k: m[k]
            for k in ("files", "dvs", "added", "removed", "stats",
                      "kf", "fv", "dvv", "rows")
        }
        import copy

        folded = copy.deepcopy(m)
        side = vmod._anchor_fold(root, folded, min_entries=1)
        total = sum(
            len(m[k]) for k in ("files", "dvs", "added", "removed")
        )
        if total == 0:
            assert side is None  # nothing to fold; verbatim JSON form
            return
        assert "files" not in folded and "added" not in folded
        _clear_caches()
        lazy = vmod._anchor_expand(root, folded, need=())
        for k in ("files", "dvs", "added", "removed", "fv", "dvv"):
            assert lazy[k] == want[k], k
        assert "stats" not in lazy and "kf" not in lazy
        full = vmod._anchor_expand(root, folded)
        for k in want:
            assert full[k] == want[k], k
        # and through a cold cache with no prior lazy touch
        _clear_caches()
        cold = vmod._anchor_expand(root, folded)
        for k in want:
            assert cold[k] == want[k], k

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass
