"""Round-14 pins: the three ADVICE r13 closures (key_membership_pruned
gates per-cell decode on AND — a mid-size candidate set takes the
cached full-column path instead of thousands of row-group-sliced
decodes; the per-side decoded-cell cache is capped; read_kf_cells'
live_only default probes a cached frozenset instead of rebuilding an
O(n_files) set per call; synth_media_corpus' parallelism floor is
Spark-Connect-safe), the rewrite+evolve empty-range schema rule
(range-END schema donor), the CDC replay property extended to
ROLLBACK ops — which found a real crash: the key-diff branch structed
both sides with the OLD side's columns, so a rollback (or overwrite)
crossing a schema-evolution boundary referenced a column the new side
lacked — and the dvv-history detector for the pre-r13 persisted
re-stamp caveat (tools/dvv_audit.py)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import querysight_spark.sources.versioned as vmod
from querysight_spark.sources.versioned import (
    compact_table,
    delete_keys,
    evolve_table_schema,
    key_membership_pruned,
    merge_into,
    optimize_table,
    read_changes,
    read_kf_cells,
    read_manifest,
    rollback,
    table_version,
    write_version,
    zorder_table,
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
    vmod._LIVE_SET_CACHE.clear()


def _write_anchored16(spark, root):
    """One 16-file commit folded to a parquet-pointer anchor, with id
    zone maps and membership filters on every file."""
    write_version(
        spark,
        _kv(spark, range(160)).repartition(16),
        root,
        anchor_parquet_min=1,
        stats_cols=["id"],
        key_filter_cols=["id"],
    )


# --- ADVICE r13 #1: the per-cell gate is AND, and the cell cache caps ---


def test_membership_midsize_candidates_take_full_column(
    spark, root, monkeypatch
):
    """A candidate set under the absolute probe cap but OVER the 1/8
    table fraction must use the cached full-column decode (the OR gate
    sent it per-cell, where force_cells made the bad pick binding and
    results only filled the side-local cell cache)."""
    _write_anchored16(spark, root)
    v = table_version(root)
    files = read_manifest(root, v, need=())["files"]
    monkeypatch.setattr(vmod, "_KF_CELL_PROBE_MAX", 8)
    _clear_caches()
    # 4 <= 8 but 4*8=32 > 16 files: full-column path
    kept, skipped = key_membership_pruned(
        root, v, "id", [25], candidates=files[:4]
    )
    sides = list(vmod._ANCHOR_SIDE_CACHE.values())
    assert sides and all("kf" in s.maps for s in sides), (
        "mid-size candidate set took the per-cell path"
    )
    # 2 <= 8 and 2*8=16 <= 16 files: genuinely small probes stay per-cell
    _clear_caches()
    kept2, skipped2 = key_membership_pruned(
        root, v, "id", [25], candidates=files[:2]
    )
    sides = list(vmod._ANCHOR_SIDE_CACHE.values())
    assert sides and all("kf" not in s.maps for s in sides), (
        "small candidate set fell through to the full-column decode"
    )
    # both paths split identically (path-independence contract)
    sset = set(files[:2])
    assert [f for f in kept if f in sset] == kept2
    assert [f for f in skipped if f in sset] == skipped2


def test_cell_cache_capped(spark, root, monkeypatch):
    """Repeated distinct point probes must not grow the side entry's
    decoded-cell cache past _KF_CELL_CACHE_CAP."""
    _write_anchored16(spark, root)
    v = table_version(root)
    files = read_manifest(root, v, need=())["files"]
    monkeypatch.setattr(vmod, "_KF_CELL_CACHE_CAP", 4)
    _clear_caches()
    for f in files:
        got = read_kf_cells(root, v, [f], force_cells=True)
        assert set(got) == {f}
    sides = list(vmod._ANCHOR_SIDE_CACHE.values())
    assert sides and all("kf" not in s.maps for s in sides)
    assert all(
        s._cell_fn is not None and len(s._cell_fn.cache) <= 4
        for s in sides
    ), "cell cache exceeded its cap"
    # eviction is cache-only: an evicted cell re-decodes identically
    full = read_manifest(root, v)["kf"]
    _clear_caches()
    assert read_kf_cells(root, v, files[:1], force_cells=True) == {
        files[0]: full[files[0]]
    }


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as _st

    @given(
        _st.integers(0, 15),
        _st.integers(1, 16),
        _st.lists(_st.integers(0, 200), min_size=1, max_size=4),
        _st.integers(1, 64),
    )
    @settings(
        max_examples=20,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_membership_split_path_independent_property(
        spark, tmp_path_factory, start, width, values, probe_max
    ):
        """For ANY candidate slice, probe-value set, and
        _KF_CELL_PROBE_MAX (which steers the AND gate between the
        per-cell and full-column decode paths), key_membership_pruned
        must produce the identical (kept, skipped) split — the r14 AND
        gate change must never alter answers, only which decode pays."""
        import querysight_spark.sources.versioned as vm

        global _PROP_ROOT
        if _PROP_ROOT is None:
            root = str(tmp_path_factory.mktemp("memb_prop") / "t")
            spark_df = _kv(spark, range(160)).repartition(16)
            write_version(
                spark, spark_df, root,
                anchor_parquet_min=1,
                stats_cols=["id"],
                key_filter_cols=["id"],
            )
            _PROP_ROOT = root
        root = _PROP_ROOT
        v = table_version(root)
        files = read_manifest(root, v, need=())["files"]
        cand = files[start : start + width]
        keep = vm._KF_CELL_PROBE_MAX
        try:
            vm._KF_CELL_PROBE_MAX = probe_max
            _clear_caches()
            a = key_membership_pruned(root, v, "id", values, candidates=cand)
            _clear_caches()
            read_manifest(root, v)  # force the full-column decode path
            b = key_membership_pruned(root, v, "id", values, candidates=cand)
        finally:
            vm._KF_CELL_PROBE_MAX = keep
        # split equality across paths; exactness of the split itself
        # is covered by the r12 no-false-negative pins
        assert a == b

    _PROP_ROOT = None

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


# --- ADVICE r13 #2: the live set is cached per snapshot ---


def test_live_set_cached_across_probes(spark, root, monkeypatch):
    """The second live_only probe against the same snapshot must not
    rebuild the live set (no read_manifest call), and the cache keys
    on the manifest file so a new version still sees its own list."""
    _write_anchored16(spark, root)
    v = table_version(root)
    files = read_manifest(root, v, need=())["files"]
    _clear_caches()
    first = read_kf_cells(root, v, files[:1])
    assert set(first) == {files[0]}
    calls = {"n": 0}
    real = vmod.read_manifest

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(vmod, "read_manifest", counting)
    again = read_kf_cells(root, v, files[:1])
    assert again == first
    assert calls["n"] == 0, "cached live set was rebuilt"
    monkeypatch.setattr(vmod, "read_manifest", real)
    # a merge rewrites files at v+1: the NEW snapshot's probe of a
    # removed path returns nothing (fresh live set, not the cached v's)
    merge_into(
        spark,
        _kv(spark, range(160)).withColumn("v", F.col("id") * 7),
        root,
        ["id"],
    )
    v1 = table_version(root)
    live = set(read_manifest(root, v1, need=())["files"])
    gone = [f for f in files if f not in live]
    assert gone
    assert read_kf_cells(root, v1, gone) == {}
    # and the old snapshot still answers from its own (cached) set
    assert set(read_kf_cells(root, v, files[:1])) == {files[0]}


# --- ADVICE r13 #3: the codec parallelism floor is Connect-safe ---


def test_floor_codec_parallelism_connect_fallback():
    """Without sparkContext/.rdd access (Spark Connect), the floor
    comes from spark.sql.shuffle.partitions and the width from the
    scan's file count — narrow sources still repartition."""
    from querysight_spark.operators.multimodal import (
        _floor_codec_parallelism,
    )

    class _Conf:
        def get(self, key, default=None):
            assert key == "spark.sql.shuffle.partitions"
            return "7"

    class _Session:
        conf = _Conf()

        @property
        def sparkContext(self):
            raise RuntimeError("sparkContext is not supported on Connect")

    class _Docs:
        sparkSession = _Session()

        def __init__(self, n_files):
            self._n = n_files

        def inputFiles(self):
            if self._n is None:
                raise RuntimeError("not a file source")
            return [f"f{i}.parquet" for i in range(self._n)]

    class _Src:
        def __init__(self):
            self.repartitioned_to = None

        def repartition(self, n):
            self.repartitioned_to = n
            return self

    # 2 files < 7: floored to the conf parallelism
    src = _Src()
    out = _floor_codec_parallelism(src, _Docs(2))
    assert out is src and src.repartitioned_to == 7
    # 32 files >= 7: layout kept, no shuffle
    src = _Src()
    _floor_codec_parallelism(src, _Docs(32))
    assert src.repartitioned_to is None
    # unknowable width (non-file source): conservative floor
    src = _Src()
    _floor_codec_parallelism(src, _Docs(None))
    assert src.repartitioned_to == 7


def test_floor_codec_parallelism_classic_exact(spark):
    """On a classic session the exact plan-width probe still floors a
    narrow source up to defaultParallelism."""
    docs = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    ).coalesce(1)
    from querysight_spark.operators.multimodal import synth_media_corpus

    corpus = synth_media_corpus(docs)
    par = spark.sparkContext.defaultParallelism
    assert corpus.rdd.getNumPartitions() >= min(par, 8) or par <= 1
    assert corpus.count() == 8


# --- rewrite+evolve empty range: schema donor is the RANGE END ---


def test_rewrite_then_evolve_empty_range_schema(spark, root):
    """An all-silent range that contains a rewrite AND a later evolve
    returns the 0-row feed with the POST-evolve schema (pre-r14 it
    borrowed the rewrite-era file footer's pre-evolve schema; the
    VERDICT r13 watch item)."""
    for k in range(3):
        write_version(spark, _kv(spark, range(k * 10, k * 10 + 10)), root)
    v0 = table_version(root)
    v_opt = optimize_table(spark, root, min_rows_per_file=100)
    assert v_opt > v0
    v_ev = evolve_table_schema(spark, root, {"w9": "long"})
    feed = read_changes(spark, root, v0, v_ev)
    assert feed.count() == 0
    assert "w9" in feed.columns
    assert feed.columns[-2:] == ["_change_type", "_commit_version"]
    # evolve BEFORE the rewrite: the rewrite manifest already carries
    # the evolved schema forward — same answer
    v_ev2 = evolve_table_schema(spark, root, {"w10": "string"})
    write_version(spark, _kv(spark, range(50, 55)), root)
    v1 = table_version(root)
    v_z = zorder_table(spark, root, ["id", "v"])
    feed2 = read_changes(spark, root, v1, v_z)
    assert feed2.count() == 0 and "w10" in feed2.columns


# --- rollback across an evolve: the key-diff aligns schemas ---


def test_rollback_across_evolve_feed(spark, root):
    """A rollback commit whose two diff sides read with different
    schemas (pre-evolve target vs evolved current) NULL-backfills the
    union of columns instead of crashing, and the events match the
    logical change."""
    write_version(spark, _kv(spark, range(10)).repartition(2), root)  # v1
    upd = spark.createDataFrame(
        [(3, 999), (77, 770)], "id long, v long"
    )
    merge_into(spark, upd, root, ["id"])  # v2: updates 3, inserts 77
    evolve_table_schema(spark, root, {"w0": "long"})  # v3
    v4 = rollback(root, 1)
    ev = read_changes(spark, root, 3, v4, key_cols=["id"])
    assert "w0" in ev.columns  # union schema, NULL-backfilled
    got = sorted(
        (r["id"], r["_change_type"], r["v"]) for r in ev.collect()
    )
    assert got == [
        (3, "update_post", 30),
        (3, "update_pre", 999),
        (77, "delete", 770),
    ]
    from querysight_spark.sources.versioned import read_version

    snap = {r["id"]: r["v"] for r in read_version(spark, root, v4).collect()}
    assert snap == {i: i * 10 for i in range(10)}


# --- CDC replay property, now over rollback ops too ---

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _OPS = st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 5)),
            st.tuples(st.just("merge"), st.integers(0, 5)),
            st.tuples(st.just("delete"), st.integers(2, 5)),
            st.tuples(st.just("compact"), st.just(0)),
            st.tuples(st.just("optimize"), st.just(0)),
            st.tuples(st.just("zorder"), st.just(0)),
            st.tuples(st.just("evolve"), st.integers(0, 1)),
            st.tuples(st.just("rollback"), st.integers(1, 3)),
        ),
        min_size=2,
        max_size=4,
    )

    @given(_OPS)
    @settings(
        max_examples=6,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_change_feed_replays_table_with_rollback_property(
        spark, tmp_path_factory, ops
    ):
        """Round-13's replay property (fold each commit's read_changes
        events into the prior snapshot, require exact reconstruction)
        extended with ROLLBACK — the one read_changes key-diff op class
        the r13 generator did not emit; first run found the
        schema-misalignment crash fixed this round (a rollback across
        an evolve structed the new side with the old side's columns)."""
        root = str(tmp_path_factory.mktemp("cdc_prop_rb") / "t")
        write_version(
            spark, _kv(spark, range(0, 12)).repartition(2), root
        )
        for kind, arg in ops:
            try:
                if kind == "append":
                    write_version(
                        spark,
                        _kv(
                            spark, range(100 + arg * 10, 104 + arg * 10)
                        ),
                        root,
                    )
                elif kind == "merge":
                    upd = spark.createDataFrame(
                        [
                            (int(i), int(i) * 1000 + arg)
                            for i in range(arg, arg + 6)
                        ],
                        "id long, v long",
                    )
                    merge_into(spark, upd, root, ["id"])
                elif kind == "delete":
                    delete_keys(
                        spark,
                        root,
                        spark.range(0, 200).where(
                            (F.col("id") % arg) == 0
                        ).select("id"),
                    )
                elif kind == "compact":
                    compact_table(spark, root)
                elif kind == "optimize":
                    optimize_table(spark, root, min_rows_per_file=100)
                elif kind == "zorder":
                    zorder_table(spark, root, ["id", "v"])
                elif kind == "evolve":
                    evolve_table_schema(
                        spark, root, {f"w{arg}": "long"}
                    )
                else:  # rollback: metadata-only revert
                    cur = table_version(root)
                    target = max(1, cur - arg)
                    if target < cur:
                        rollback(root, target)
            except ValueError:
                # the engine REFUSING an op (merge/optimize with
                # outstanding delete debt, duplicate evolve column) is
                # its own documented contract — nothing commits
                continue
        from querysight_spark.sources.versioned import read_version

        V = table_version(root)

        def snap(v):
            return {
                r["id"]: r["v"]
                for r in read_version(spark, root, v).collect()
            }

        prev = snap(1)
        for v in range(2, V + 1):
            cur = snap(v)
            try:
                events = read_changes(
                    spark, root, v - 1, v, key_cols=["id"]
                ).collect()
            except ValueError:
                assert cur == prev, f"v{v}: silent commit moved rows"
                prev = cur
                continue
            state = dict(prev)
            for r in events:
                if r["_change_type"] == "insert":
                    state[r["id"]] = r["v"]
                elif r["_change_type"] == "delete":
                    assert state.pop(r["id"], None) is not None, (
                        f"v{v}: delete of absent key {r['id']}"
                    )
                elif r["_change_type"] == "update_pre":
                    assert state.get(r["id"]) == r["v"], (
                        f"v{v}: update_pre wrong pre-image {r['id']}"
                    )
                else:
                    state[r["id"]] = r["v"]
            assert state == cur, f"v{v}: replay != snapshot"
            prev = cur

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_rollback_readds_tombstoned_files_feed_silent(spark, root):
    """A rollback that re-adds files still covered by its restored
    deletion vectors must read its ADDED side logically: delete ->
    compact -> rollback leaves the snapshot unchanged, so the feed
    over the rollback is EMPTY — pre-fix the raw added-side read
    resurrected the tombstoned keys as phantom inserts (found by the
    round-14 replay hunt, seed 33)."""
    from querysight_spark.sources.versioned import read_version

    write_version(spark, _kv(spark, range(12)).repartition(2), root)  # v1
    delete_keys(
        spark, root,
        spark.range(0, 200).where(F.col("id") % 5 == 0).select("id"),
    )  # v2
    compact_table(spark, root)  # v3
    v4 = rollback(root, 2)
    live3 = sorted(r["id"] for r in read_version(spark, root, 3).collect())
    live4 = sorted(r["id"] for r in read_version(spark, root, 4).collect())
    assert live3 == live4  # logical no-op
    assert read_changes(spark, root, 3, v4, key_cols=["id"]).count() == 0
    # and a later delete still sees the restored tombstones (no
    # double-delete events for already-dead keys)
    delete_keys(
        spark, root,
        spark.range(0, 200).where(F.col("id") % 2 == 0).select("id"),
    )  # v5
    ev = sorted(
        (r["id"], r["_change_type"])
        for r in read_changes(spark, root, v4, key_cols=["id"]).collect()
    )
    assert ev == [(2, "delete"), (4, "delete"), (6, "delete"), (8, "delete")]


def test_dv_only_rollback_feed_events(spark, root):
    """A rollback that changes ONLY the deletion-vector set (file list
    untouched) must still emit the logical row changes: dropping a
    delete's vectors resurrects its keys (insert events); rolling back
    onto the DV'd snapshot from a later un-DV'd one re-covers them
    (delete events). Pre-fix both read as a silent commit while rows
    moved (found by the round-14 replay hunt, seed 94:
    delete -> evolve -> rollback)."""
    from querysight_spark.sources.versioned import read_version

    write_version(spark, _kv(spark, range(12)).repartition(2), root)  # v1
    delete_keys(
        spark, root,
        spark.range(0, 200).where(F.col("id") % 2 == 0).select("id"),
    )  # v2
    evolve_table_schema(spark, root, {"w0": "long"})  # v3
    v4 = rollback(root, 1)  # drops the DVs; file list identical
    ev = sorted(
        (r["id"], r["_change_type"])
        for r in read_changes(spark, root, 3, v4, key_cols=["id"]).collect()
    )
    assert ev == [(k, "insert") for k in (0, 2, 4, 6, 8, 10)]
    assert sorted(
        r["id"] for r in read_version(spark, root, v4).collect()
    ) == list(range(12))
    v5 = rollback(root, 2)  # restores the DVs; file list identical
    ev2 = sorted(
        (r["id"], r["_change_type"])
        for r in read_changes(spark, root, v4, v5, key_cols=["id"]).collect()
    )
    assert ev2 == [(k, "delete") for k in (0, 2, 4, 6, 8, 10)]
    assert sorted(
        r["id"] for r in read_version(spark, root, v5).collect()
    ) == [1, 3, 5, 7, 9, 11]


# --- dvv history audit: the pre-r13 persisted re-stamp is inspectable ---


def _restamp_carried_dv(root, version, dv, to_version):
    """Hand-edit a manifest to the PRE-r13 persisted state: the carried
    DV's vintage re-stamped to the delete commit's own version."""
    path = vmod._manifest_path(root, version)
    with open(path) as f:
        raw = json.load(f)
    if raw.get("delta_maps"):
        raw.setdefault("dvv_add", {})[dv] = to_version
    else:
        raw.setdefault("dvv", {})[dv] = to_version
    with open(path, "w") as f:
        json.dump(raw, f)


def test_dvv_audit_detects_persisted_restamp(spark, root):
    """tools/dvv_audit.py: clean histories audit empty; a synthetically
    aged table (carried DV re-stamped in the persisted manifest, the
    pre-r13 bug's footprint) reports the exact snapshot range."""
    import sys

    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if _repo not in sys.path:
        sys.path.insert(0, _repo)
    from tools.dvv_audit import audit_dv_vintages

    write_version(spark, _kv(spark, range(12)).repartition(2), root)  # v1
    delete_keys(
        spark, root,
        spark.range(0, 200).where(F.col("id") % 2 == 0).select("id"),
    )  # v2: DV born at vintage 2
    write_version(spark, _kv(spark, range(100, 104)), root)  # v3
    delete_keys(
        spark, root,
        spark.range(0, 200).where(F.col("id") % 3 == 0).select("id"),
    )  # v4: carries the v2 DV
    write_version(spark, _kv(spark, range(200, 202)), root)  # v5
    assert audit_dv_vintages(root) == []
    carried = [
        d
        for d in read_manifest(root, 4, need=())["dvs"]
        if vmod._commit_of(d) == 2
    ]
    assert carried  # the v2 vectors ride along under the v4 commit
    _restamp_carried_dv(root, 4, carried[0], 4)
    _clear_caches()
    findings = audit_dv_vintages(root)
    assert findings == [
        {
            "version": 4,
            "dv": carried[0],
            "stored": 4,
            "carried_from": 2,
            "op": "delete",
            "affected_through": 5,
        }
    ]
    # the CLI exits non-zero on findings and prints one JSON line
    import subprocess
    import sys as _sys

    proc = subprocess.run(
        [_sys.executable, os.path.join("tools", "dvv_audit.py"), root],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 1
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["root"] == root and len(line["findings"]) == 1
