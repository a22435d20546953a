"""Versioned parquet tables: snapshot isolation, time-travel, rollback.

The table-format layer a 100 TB deployment puts under every other
operator in this engine (the rollup tiers, the persisted BM25/ANN
indexes, the compaction pass): readers must pin a consistent snapshot
while writers land new data, yesterday's snapshot must stay queryable,
and a bad load must be revertible without copying data. The reference
has no table format at all (its cache layer is latest-only,
utils/cache_manager.py); this module supplies the missing substrate
with the classic log-structured design the public formats
(Delta/Iceberg papers) converge on, re-expressed minimally:

- Data files are IMMUTABLE. Every commit writes its rows into a fresh
  ``data/c{N}/`` directory; nothing ever rewrites an existing file.
- A snapshot is a MANIFEST: ``_manifests/v{N}.json`` defines the file
  list visible at version N plus the commit's ``added``/``removed``
  lists for incremental consumers. Every 32nd manifest is an ANCHOR
  carrying the full list and metadata maps; the manifests between
  carry only their commit's deltas, and ``read_manifest`` hydrates by
  replaying at most 31 deltas onto the anchor (round 9 — keeps
  per-commit metadata O(changed) instead of O(files)). Large anchors
  (>512 entries) spill the list + maps to a columnar parquet sidecar
  and keep a ~440 B pointer JSON (round 10 — the amortized
  O(files)/32 term stays 13-17x smaller at 10^5 files). Readers never
  list the data directory — a scan plans from the hydrated file list,
  so a concurrent writer is invisible until its manifest lands.
- Commits are ATOMIC and optimistic: the manifest is written to a temp
  name and ``os.link``-ed to ``v{N}.json`` — link fails with EEXIST if
  another writer claimed N first (retry on the next number). A reader
  either sees the complete manifest or nothing.
- ``rollback`` is a METADATA commit: a new version whose file list is a
  byte-copy of the target's. History stays linear and the bad
  version remains inspectable; no data moves.

Scale notes (100 TB): per-commit metadata is O(changed entries) —
~1.25 KB flat in both commit count and file count (rounds 9-10: map
deltas, the file-list fold, parquet anchors, auto-checkpoints on the
anchor cadence); the `added`/`removed` lists are the delta every
incremental consumer replays. Reads plan
from the manifest (no object-store LISTing, the expensive operation at
cloud scale), pushdown/pruning work unchanged since the files are
plain parquet, and ``incremental_read`` gives exactly-the-new-files
CDC for append pipelines (the st02 absorb discipline upstream).

On top of the snapshot log this module layers the three maintenance
operations a 100 TB table lives on:

- ZONE MAPS (``stats_cols``): per-file column min/max lifted from the
  parquet FOOTERS at commit time (metadata reads, never a data scan)
  and stored in the manifest, so a predicate scan plans only the files
  whose range intersects — the manifest-level data skipping the public
  formats document, one level above parquet's own row-group stats.
- ``merge_into``: copy-on-write upsert that uses those zone maps to
  rewrite ONLY the files whose key range the source actually touches;
  untouched files carry into the new snapshot by reference.
- DELETION VECTORS (``delete_keys``): merge-on-read deletes — a delete
  commits a key-tombstone sidecar instead of rewriting data (the ir10
  tombstone discipline applied to the table format itself); reads
  anti-join the vectors, and ``compact_table`` folds them into a
  rewrite of only the affected files when the debt justifies it.
"""

from __future__ import annotations

import bisect
import json
import os
import re
import time
import uuid

# module-level: the membership-probe pandas_udf's pd.Series annotations
# must resolve against module globals (PySpark inspects the string
# annotations under `from __future__ import annotations`)
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFESTS = "_manifests"
_DATA = "data"
_DV = "dv"

# every data/DV directory is named c{claimed_version:08d}-{hex} at write
# time — the commit number embedded in the path is each file's vintage
_COMMIT_DIR_RE = re.compile(r"(?:^|/)c(\d{8})-[0-9a-f]+/")


def _commit_of(rel: str) -> int:
    """The commit number embedded in a data/DV file's path (its write
    VINTAGE) — the DEFAULT scope source; the manifest's ``fv``/``dvv``
    maps record only the EXCEPTIONS (since round 8), which closes the
    multi-retry race the path-derived vintage alone had: an append
    that loses two or more manifest races lands at a version HIGHER
    than the one in its directory name, above an interleaved delete —
    the exception entry says so, the path cannot. Every other file's
    committed version IS its path vintage, so the maps cost ~nothing
    (manifest size measured unchanged vs pre-map, SCALE.md round-8
    addendum). Unrecognized paths report 0 (oldest: every DV applies),
    the conservative pre-scoping behavior."""
    m = _COMMIT_DIR_RE.search(rel)
    return int(m.group(1)) if m else 0


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFESTS, f"v{version:08d}.json")


def _latest_checkpoint(root: str) -> dict | None:
    """Newest ``ckpt-*.json`` manifest checkpoint, or None."""
    mdir = os.path.join(root, _MANIFESTS)
    if not os.path.isdir(mdir):
        return None
    ckpts = sorted(
        f for f in os.listdir(mdir)
        if f.startswith("ckpt-") and f.endswith(".json")
    )
    if not ckpts:
        return None
    with open(os.path.join(mdir, ckpts[-1])) as f:
        return json.load(f)


def table_version(root: str) -> int:
    """Latest committed version, or 0 if the table doesn't exist yet.
    With a manifest checkpoint present, starts at the checkpointed
    version and walks FORWARD by existence probes — O(commits since
    the checkpoint), no directory LISTing (the expensive object-store
    call the public formats' _last_checkpoint pointer exists to
    avoid); without one, falls back to the listing."""
    ckpt = _latest_checkpoint(root)
    if ckpt is not None:
        v = ckpt["version"]
        while os.path.exists(_manifest_path(root, v + 1)):
            v += 1
        return v
    mdir = os.path.join(root, _MANIFESTS)
    if not os.path.isdir(mdir):
        return 0
    versions = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions, default=0)


# Every _ANCHOR_EVERY-th commit is an ANCHOR manifest carrying the
# FULL file list and stats/kf/fv/dvv maps; the commits between carry
# only their DELTAS (map entries new or changed vs the previous
# effective maps, and — when the snapshot is exactly
# (prev - removed) + added — no file list at all).
# Without this every commit re-serialized every file's maps — at 10^4+
# commits the log's cumulative metadata grew O(commits x files) even
# though each commit changed a handful of entries (VERDICT r9 #3).
# With it, per-commit metadata is O(changed entries) amortized +
# O(files)/_ANCHOR_EVERY, readers hydrate by replaying at most
# _ANCHOR_EVERY-1 deltas onto the nearest anchor (cached, below).
# v1 is always an anchor, so pre-round-9 tables (all-full manifests)
# hydrate as a zero-length replay.
_ANCHOR_EVERY = 32
# per-file manifest maps that delta-fold between anchors; "rows" is
# each file's footer row count (round 10), recorded once at commit so
# maintenance gates (optimize's small-file count, the key-filter
# saturation check) plan from the manifest alone instead of re-opening
# 10^5 footers per call
_DELTA_KEYS = ("stats", "kf", "fv", "dvv", "rows")

# PARQUET-ENCODED ANCHORS (round 10): anchors were the one remaining
# O(files) JSON term — ~75 MB per anchor projected at 10^5 files
# (SCALE.md write_path_curve; every path string appears up to four
# times across files/stats/kf/fv and JSON adds quoting/key overhead).
# Past this many entries (files + DVs + this commit's added/removed
# deltas) the anchor's file list and per-file maps move to a COLUMNAR
# SIDECAR beside the manifest (`anchor-v{N}-{uuid}.parquet`: one row
# per file/DV/delta path, dictionary-encoded paths, zstd-compressed
# JSON cells for stats/kf, exception versions as a nullable int64
# column); the JSON manifest keeps a pointer, row counts, and a
# content hash, and stays ~1 KB like every delta. The ``added``/
# ``removed`` lists fold too (round 11): an overwrite/rollback/
# optimize commit that lands on the anchor cadence rewrites most of
# the table, so those lists are itself O(files) — ~7 MB of pointer
# JSON at 10^5 files without the fold (SCALE.md anchor_curve).
# Below the threshold plain JSON is both smaller and one fewer
# IO, so small tables never pay the sidecar read. Sidecars are
# IMMUTABLE and uniquely named — a commit that loses the version-claim
# race unlinks its own.
_ANCHOR_PARQUET_MIN = 512

# sidecar row kinds: snapshot members (0/1) carry the per-file map
# cells; this commit's own added/removed deltas (2/3) carry only the
# path (restored to plain lists on expand — the CDC contract is
# unchanged, only the encoding moved)
_ANCHOR_KIND_FILE = 0
_ANCHOR_KIND_DV = 1
_ANCHOR_KIND_ADDED = 2
_ANCHOR_KIND_REMOVED = 3

# the per-file maps whose sidecar columns decode LAZILY (round 11):
# each is a json.loads (stats/kf) or dict-build (rows) over 10^5
# cells — ~all of the old eager expand cost — while a plain scan
# needs only the file list and pruning needs stats or kf alone.
_ANCHOR_LAZY_KEYS = ("stats", "kf", "rows")

# rows per parquet row group in the anchor sidecar (round 12): a
# PER-CELL kf read decompresses one group, not the whole column —
# bounding a point probe's decode at ~8K cells even when the table
# has 10^5 files and the cells carry inline bitmaps. Pre-r12 sidecars
# (one ~10^5-row group) still decode correctly, just column-at-once.
_ANCHOR_ROW_GROUP = 1 << 13

# past this many requested files a per-cell kf read stops paying: the
# one-pass full-column decode is cheaper per cell AND caches the whole
# map for every later caller (see _AnchorSide.kf_cells)
_KF_CELL_PROBE_MAX = 256

# per-anchor-side decoded-cell cap (ADVICE r13): repeated point probes
# against one snapshot accumulate cells in the side entry's cache; with
# the key_membership_pruned gate at AND each probe adds at most
# _KF_CELL_PROBE_MAX entries, and this cap bounds the total so a long
# sequence of distinct probes can't pin an anchor's worth of decoded
# cells — evict oldest-inserted (a full-map hydration supersedes and
# frees the whole closure anyway, see _AnchorSide.ensure)
_KF_CELL_CACHE_CAP = 4096

_CELL_MISS = object()  # cache sentinel: "never decoded" vs "no cell"


class _AnchorSide:
    """One cached parquet-anchor sidecar, PARTIALLY hydrated: the
    file/DV/added/removed lists and the exceptions-only version maps
    (fv/dvv) decode eagerly — cheap columnar string/int reads, what a
    plain scan plans from — while the per-file ``stats``/``kf``/
    ``rows`` maps materialize per COLUMN on first request (~2.3 s of
    json.loads at 10^5 files when decoded eagerly, SCALE.md
    anchor_curve r10) and stay cached for every later caller.
    ``kf_cells`` (round 12) sits below the column granularity: a
    point probe over a handful of zone-admitted candidates decodes
    only those files' kf cells."""

    __slots__ = ("stat_key", "maps", "_lazy", "n_files", "_cell_fn")

    def __init__(self, stat_key, maps: dict, lazy: dict,
                 n_files: int = 0, cell_fn=None):
        self.stat_key = stat_key
        self.maps = maps
        self._lazy = lazy  # map key -> thunk; popped once materialized
        self.n_files = n_files
        self._cell_fn = cell_fn  # per-cell kf decode (round 12)

    def ensure(self, keys) -> None:
        for k in keys:
            fn = self._lazy.pop(k, None)
            if fn is not None:
                self.maps[k] = fn()
            if k == "kf" and "kf" in self.maps:
                # the full map supersedes per-cell decode: drop the
                # cell closure so its ParquetFile / row-index / decoded-
                # cell state — which pins the compressed sidecar bytes
                # for the cache entry's lifetime — can free (ADVICE r12)
                self._cell_fn = None

    def kf_cells(self, paths, force_cells: bool = False) -> dict:
        """kf entries for just ``paths`` (absent keys omitted) WITHOUT
        materializing the whole kf map when the request is small: the
        first cold membership probe of a process pays a row-group-
        sliced read of the candidates' cells (~ms) instead of
        json.loads over every file (~0.6 s at 10^5 files — the
        VERDICT r11 cold-probe cost; SCALE.md anchor_curve
        kf_probe_cold_ms). Large requests (over _KF_CELL_PROBE_MAX,
        or more than ~1/8 of the table) fall through to the one-pass
        full-column decode, which is cheaper per cell and caches the
        map for every later caller. ``force_cells`` (ADVICE r12): an
        upstream planner that already gated on the SNAPSHOT's live
        file count (``key_membership_pruned``) passes True so this
        layer doesn't re-gate on the anchor's ``n_files`` and pick a
        different path after heavy delta churn — one decision threads
        through; without it the inner check is the authoritative
        fallback. Returned cell dicts are SHARED with the side cache:
        callers must not mutate them."""
        paths = list(paths)
        if "kf" not in self.maps and (
            self._cell_fn is None
            or (
                not force_cells
                and (
                    len(paths) > _KF_CELL_PROBE_MAX
                    or len(paths) * 8 > max(self.n_files, 1)
                )
            )
        ):
            self.ensure(("kf",))
        if "kf" in self.maps:
            kf = self.maps["kf"]
            return {p: kf[p] for p in paths if p in kf}
        return self._cell_fn(paths)


# expanded-anchor cache: maps are large (that's why they left the
# JSON), so cache few, key on stat like the raw cache, and evict LRU
# (move-to-end on hit — ADVICE r10: a hydration walk spanning >4
# anchor windows must not thrash the hot one out in FIFO order)
_ANCHOR_SIDE_CACHE: dict[str, _AnchorSide] = {}
_ANCHOR_SIDE_CACHE_CAP = 4


def _anchor_fold(
    root: str, manifest: dict, min_entries: int | None = None
) -> str | None:
    """Fold a full anchor ``manifest`` (mutated in place) into pointer
    form, writing the file list + per-file maps — and this commit's
    ``added``/``removed`` delta lists — as a parquet sidecar. No-op
    below ``min_entries`` total paths (default
    ``_ANCHOR_PARQUET_MIN``; a parameter, not a module-global rebind,
    so tests and callers forcing tiny folds stay thread-safe — ADVICE
    r10). Returns the sidecar's absolute path (for claim-race
    cleanup) or None."""
    files = manifest.get("files", [])
    dvs = manifest.get("dvs", [])
    added = manifest.get("added", [])
    removed = manifest.get("removed", [])
    if min_entries is None:
        min_entries = _ANCHOR_PARQUET_MIN
    if len(files) + len(dvs) + len(added) + len(removed) < min_entries:
        return None
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    stats = manifest.get("stats", {})
    kf = manifest.get("kf", {})
    fv = manifest.get("fv", {})
    dvv = manifest.get("dvv", {})
    rows = manifest.get("rows", {})

    def _j(m, p):
        v = m.get(p)
        return None if v is None else json.dumps(v, separators=(",", ":"))

    def _j_kf(p):
        # key-filter cells repeat the data file's own basename (a
        # high-entropy uuid) inside each spilled sidecar pointer —
        # cross-column redundancy parquet can't compress away.
        # Tokenize the DERIVED name (`<basename>.<col>.kf`, the form
        # _kf_build always writes) to the empty string; _anchor_expand
        # reconstructs it. Non-derived names (none today) pass through.
        cols = kf.get(p)
        if cols is None:
            return None
        base = os.path.basename(p)
        out = {}
        for c, filt in cols.items():
            if filt.get("p") == f"{base}.{c}.kf":
                filt = {**filt, "p": ""}
            out[c] = filt
        return json.dumps(out, separators=(",", ":"))

    n_delta = len(added) + len(removed)
    tbl = pa.table(
        {
            "path": pa.array(
                list(files) + list(dvs) + list(added) + list(removed),
                pa.string(),
            ),
            "kind": pa.array(
                [_ANCHOR_KIND_FILE] * len(files)
                + [_ANCHOR_KIND_DV] * len(dvs)
                + [_ANCHOR_KIND_ADDED] * len(added)
                + [_ANCHOR_KIND_REMOVED] * len(removed),
                pa.int8(),
            ),
            "stats": pa.array(
                [_j(stats, p) for p in files]
                + [None] * (len(dvs) + n_delta),
                pa.string(),
            ),
            "kf": pa.array(
                [_j_kf(p) for p in files]
                + [None] * (len(dvs) + n_delta),
                pa.string(),
            ),
            # exceptions-only committed versions (fv for files, dvv
            # for DVs) share one nullable column
            "ver": pa.array(
                [fv.get(p) for p in files]
                + [dvv.get(p) for p in dvs]
                + [None] * n_delta,
                pa.int64(),
            ),
            "rows": pa.array(
                [rows.get(p) for p in files]
                + [None] * (len(dvs) + n_delta),
                pa.int64(),
            ),
        }
    )
    mdir = os.path.join(root, _MANIFESTS)
    name = (
        f"anchor-v{manifest['version']:08d}-{uuid.uuid4().hex[:12]}"
        ".parquet"
    )
    final = os.path.join(mdir, name)
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    try:
        pq.write_table(
            tbl, tmp, compression="zstd", compression_level=9,
            row_group_size=_ANCHOR_ROW_GROUP,
        )
    except Exception:
        pq.write_table(
            tbl, tmp, compression="snappy",
            row_group_size=_ANCHOR_ROW_GROUP,
        )
    with open(tmp, "rb") as f:
        sha = hashlib.sha256(f.read()).hexdigest()
    os.replace(tmp, final)
    manifest["anchor_parquet"] = name
    manifest["anchor_sha256"] = sha
    manifest["anchor_counts"] = [len(files), len(dvs)]
    manifest["anchor_ar_counts"] = [len(added), len(removed)]
    for k in ("files", "dvs", "stats", "kf", "fv", "dvv", "rows",
              "added", "removed"):
        manifest.pop(k, None)
    return final


def _anchor_expand(root: str, raw: dict, need=None) -> dict:
    """Pointer-form anchor -> full form (files/dvs/added/removed/fv/
    dvv restored from the parquet sidecar, content-hash-verified,
    cached). Non-pointer manifests pass through.

    ``need`` (round 11) is the LAZY-HYDRATION floor: the heavy
    per-file maps (``stats``/``kf``/``rows`` — each a json.loads or
    dict-build over every file, ~2.3 s at 10^5 files when all decode
    eagerly) materialize per COLUMN only when named in ``need``
    (``None`` = all, the full contract). Lists and the exceptions-only
    version maps are always decoded — a plain scan plans from those
    alone in ~ms. Maps materialized for an EARLIER caller stay in the
    returned dict (need is a floor, not a projection). The returned
    containers are shared with the cache — same invariant as
    ``_load_manifest_raw``; ``_hydrate_manifest`` copies what it
    hands out."""
    if not raw.get("anchor_parquet"):
        return raw
    side = _anchor_side(root, raw, need)
    side.ensure(
        _ANCHOR_LAZY_KEYS
        if need is None
        else tuple(k for k in _ANCHOR_LAZY_KEYS if k in need)
    )
    out = dict(raw)
    out.update(side.maps)
    for k in ("anchor_parquet", "anchor_sha256", "anchor_counts",
              "anchor_ar_counts"):
        out.pop(k, None)
    return out


def _anchor_side(root: str, raw: dict, need=()) -> _AnchorSide:
    """The (cached) partially-hydrated sidecar entry behind a
    pointer-form anchor manifest: eager path/kind/ver planning
    columns, lazy per-column thunks for stats/kf/rows, and the
    round-12 per-cell kf reader. Split out of ``_anchor_expand`` so
    ``read_kf_cells`` can probe single cells without forcing a map
    materialization. ``need`` is only a COLD-READ WIDTH HINT: a
    full-hydration miss (need=None) decodes every column in the one
    eager pass so the lazy thunks pay no second read; the cached
    entry's behavior is identical either way."""
    name = raw["anchor_parquet"]
    path = os.path.join(root, _MANIFESTS, name)
    st = os.stat(path)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    side = _ANCHOR_SIDE_CACHE.get(path)
    if side is not None and side.stat_key == key:
        # LRU: move-to-end on hit (ADVICE r10)
        _ANCHOR_SIDE_CACHE.pop(path, None)
        _ANCHOR_SIDE_CACHE[path] = side
    else:
        import hashlib
        import io as _io

        import pyarrow.parquet as pq

        with open(path, "rb") as f:
            data = f.read()
        want = raw.get("anchor_sha256")
        if want and hashlib.sha256(data).hexdigest() != want:
            raise ValueError(
                f"anchor sidecar {name} content-hash mismatch "
                "(corrupt or mismatched manifest)"
            )
        import numpy as np

        # EAGER read = the cheap planning columns only (path/kind/ver);
        # the stats/kf/rows columns stay zstd-compressed inside `data`
        # until a lazy thunk below decodes one — skipping their
        # decompress + json.loads is most of the 10x+ between a
        # list-only hydration and the old full expand (anchor_curve).
        # A FULL-hydration miss (need=None — the write path) still
        # decodes every column in this one pass, so it pays no
        # second read.
        tbl = pq.read_table(
            _io.BytesIO(data),
            columns=(
                None if need is None else ["path", "kind", "ver"]
            ),
        )
        paths = tbl.column("path").to_pylist()
        kinds_np = tbl.column("kind").to_numpy()
        # ver is exceptions-only (~1% non-null): pull just the
        # non-null indices instead of scanning 10^5 python Nones
        v_np = tbl.column("ver").to_numpy(zero_copy_only=False)
        v_idx = (
            np.flatnonzero(~np.isnan(v_np))
            if len(v_np) and v_np.dtype.kind == "f"
            else np.arange(len(v_np))
        )
        blocky = len(kinds_np) == 0 or bool(
            np.all(np.diff(kinds_np) >= 0)
        )
        if blocky:
            # _anchor_fold writes kinds as contiguous blocks
            # (files|dvs|added|removed) — split by boundary
            e0, e1, e2 = (
                int(x)
                for x in np.searchsorted(
                    kinds_np,
                    [
                        _ANCHOR_KIND_FILE,
                        _ANCHOR_KIND_DV,
                        _ANCHOR_KIND_ADDED,
                    ],
                    side="right",
                )
            )
            files = paths[:e0]
            dvs = paths[e0:e1]
            added = paths[e1:e2]
            removed = paths[e2:]
            fv = {paths[i]: int(v_np[i]) for i in v_idx if i < e0}
            dvv = {
                paths[i]: int(v_np[i])
                for i in v_idx
                if e0 <= i < e1
            }
        else:  # defensive: a foreign writer interleaved kinds
            vers = tbl.column("ver").to_pylist()
            files, dvs, added, removed = [], [], [], []
            fv, dvv = {}, {}
            for p, kind, ver in zip(paths, kinds_np.tolist(), vers):
                if kind == _ANCHOR_KIND_FILE:
                    files.append(p)
                    if ver is not None:
                        fv[p] = ver
                elif kind == _ANCHOR_KIND_DV:
                    dvs.append(p)
                    if ver is not None:
                        dvv[p] = ver
                elif kind == _ANCHOR_KIND_ADDED:
                    added.append(p)
                else:
                    removed.append(p)
        counts = raw.get("anchor_counts")
        if counts and counts != [len(files), len(dvs)]:
            raise ValueError(
                f"anchor sidecar {name} row counts {[len(files), len(dvs)]}"
                f" != manifest {counts}"
            )
        ar_counts = raw.get("anchor_ar_counts")
        if ar_counts is not None and ar_counts != [
            len(added), len(removed)
        ]:
            raise ValueError(
                f"anchor sidecar {name} delta row counts "
                f"{[len(added), len(removed)]} != manifest {ar_counts}"
            )
        maps = {"files": files, "dvs": dvs, "fv": fv, "dvv": dvv}
        if ar_counts is not None:
            # round-11 sidecars fold the commit's own delta lists too;
            # r10-format manifests keep them verbatim in the JSON (the
            # raw dict already carries them — don't clobber)
            maps["added"] = added
            maps["removed"] = removed

        all_cols = set(pq.read_schema(_io.BytesIO(data)).names)
        eager_cols = set(tbl.column_names)

        def _lazy_col(name: str) -> list | None:
            # one column's decompress, deferred until a caller names
            # its map; `data` (the compressed sidecar bytes) is held
            # by these closures — and by _kf_cell_fn's ParquetFile
            # state until ensure(("kf",)) drops the cell closure — and
            # freed once all three maps materialize (ADVICE r12).
            # On a full-hydration miss the column already decoded in
            # the eager pass — serve it, no second read.
            if name in eager_cols:
                return tbl.column(name).to_pylist()
            if name not in all_cols:
                return None
            return (
                pq.read_table(_io.BytesIO(data), columns=[name])
                .column(name)
                .to_pylist()
            )

        if blocky:
            def _file_rows(col: list):
                # file rows are exactly the first block — no per-row
                # kind test (iterating the numpy kinds array per row
                # costs more than the json.loads it guards)
                return zip(paths[:e0], col[:e0])
        else:
            kinds_list = kinds_np.tolist()

            def _file_rows(col: list):
                return (
                    (p, cell)
                    for p, k, cell in zip(paths, kinds_list, col)
                    if k == _ANCHOR_KIND_FILE
                )

        def _lazy_stats() -> dict:
            out: dict = {}
            for p, sj in _file_rows(_lazy_col("stats")):
                if sj is not None:
                    out[p] = json.loads(sj)
            return out

        def _lazy_kf() -> dict:
            out: dict = {}
            for p, kj in _file_rows(_lazy_col("kf")):
                if kj is None:
                    continue
                cols = json.loads(kj)
                base = os.path.basename(p)
                for c, filt in cols.items():
                    if filt.get("p") == "":
                        # fold-side tokenization of the derived
                        # sidecar name (see _anchor_fold._j_kf)
                        filt["p"] = f"{base}.{c}.kf"
                out[p] = cols
            return out

        def _lazy_rows() -> dict:
            col = _lazy_col("rows")
            if col is None:
                return {}
            out: dict = {}
            for p, nr in _file_rows(col):
                if nr is not None:
                    out[p] = nr
            return out

        cell_cache: dict = {}  # path -> decoded cols | None (no cell)
        cell_state: dict = {}  # built on first per-cell read

        def _kf_cell_fn(want: list) -> dict:
            # decode ONLY the requested files' kf cells: row-group-
            # sliced reads of the kf column (the r12 fold writes
            # _ANCHOR_ROW_GROUP-row groups, so a point probe
            # decompresses one group's cells, not 10^5; a pre-r12
            # single-group sidecar degrades to one column read).
            # Decoded cells cache on the side entry — repeated point
            # probes against the same snapshot are dict hits.
            out: dict = {}
            missing: list = []
            for p in want:
                hit = cell_cache.get(p, _CELL_MISS)
                if hit is _CELL_MISS:
                    missing.append(p)
                elif hit is not None:
                    out[p] = hit
            if not missing:
                return out
            if "kf" not in all_cols:
                for p in missing:
                    cell_cache[p] = None
                return out
            if not cell_state:
                if blocky:
                    rows_of = {p: i for i, p in enumerate(paths[:e0])}
                else:
                    rows_of = {
                        p: i
                        for i, (p, k2) in enumerate(
                            zip(paths, kinds_np.tolist())
                        )
                        if k2 == _ANCHOR_KIND_FILE
                    }
                pf = pq.ParquetFile(_io.BytesIO(data))
                starts = [0]
                for g in range(pf.metadata.num_row_groups - 1):
                    starts.append(
                        starts[-1] + pf.metadata.row_group(g).num_rows
                    )
                cell_state.update(rows=rows_of, pf=pf, starts=starts)
            import bisect

            rows_of = cell_state["rows"]
            pf = cell_state["pf"]
            starts = cell_state["starts"]
            by_group: dict[int, list] = {}
            for p in missing:
                i = rows_of.get(p)
                if i is None:
                    cell_cache[p] = None
                    continue
                g = bisect.bisect_right(starts, i) - 1
                by_group.setdefault(g, []).append((i - starts[g], p))
            for g, items in by_group.items():
                # keep the group Arrow-side: decompress is per-group
                # (unavoidable at parquet granularity) but only the
                # requested cells convert to Python / json.loads
                col = pf.read_row_group(g, columns=["kf"]).column("kf")
                for off, p in items:
                    kj = col[off].as_py()
                    if kj is None:
                        cell_cache[p] = None
                        continue
                    cols = json.loads(kj)
                    base = os.path.basename(p)
                    for c, filt in cols.items():
                        if filt.get("p") == "":
                            filt["p"] = f"{base}.{c}.kf"
                    cell_cache[p] = cols
                    out[p] = cols
            while len(cell_cache) > _KF_CELL_CACHE_CAP:
                cell_cache.pop(next(iter(cell_cache)))
            return out

        _kf_cell_fn.cache = cell_cache  # introspection handle (tests)

        side = _AnchorSide(
            key,
            maps,
            {"stats": _lazy_stats, "kf": _lazy_kf, "rows": _lazy_rows},
            n_files=len(files),
            cell_fn=_kf_cell_fn,
        )
        if len(_ANCHOR_SIDE_CACHE) >= _ANCHOR_SIDE_CACHE_CAP:
            _ANCHOR_SIDE_CACHE.pop(next(iter(_ANCHOR_SIDE_CACHE)))
        _ANCHOR_SIDE_CACHE[path] = side
    return side

# raw-manifest cache: manifests are immutable once written, so
# hydration walks hit memory, not the object store. The (mtime_ns,
# size, ino) key still catches a file swapped in place by os.replace,
# even on a coarse-mtime filesystem.
_MANIFEST_CACHE: dict[str, tuple[tuple[int, int, int], dict]] = {}
_MANIFEST_CACHE_CAP = 512


def _load_manifest_raw(root: str, version: int) -> dict:
    """Raw manifest JSON, cached. The returned dict — including its
    NESTED containers (files/stats/kf/fv/dvv and their entries) — is
    shared with the process-wide cache: callers MUST NOT mutate it in
    place (``read_manifest`` copies every container it returns; any
    other caller that wants to edit must copy first)."""
    path = _manifest_path(root, version)
    st = os.stat(path)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    hit = _MANIFEST_CACHE.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    with open(path) as f:
        raw = json.load(f)
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
        _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    _MANIFEST_CACHE[path] = (key, raw)
    return raw


# live-file-set cache (ADVICE r13): ``read_kf_cells``'s ``live_only``
# default needs only MEMBERSHIP against the snapshot's live list, but
# building a fresh O(n_files) set from a full file-list hydration per
# call put a linear-in-table-size driver cost back on the ~ms
# point-lookup path the function exists to protect. Cache the
# frozenset per manifest path under the same (mtime_ns, size, ino)
# invalidation contract as _MANIFEST_CACHE.
_LIVE_SET_CACHE: dict[str, tuple[tuple[int, int, int], frozenset]] = {}
_LIVE_SET_CACHE_CAP = 32


def _live_file_set(root: str, version: int) -> frozenset:
    path = _manifest_path(root, version)
    st = os.stat(path)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    hit = _LIVE_SET_CACHE.pop(path, None)
    if hit is not None and hit[0] == key:
        _LIVE_SET_CACHE[path] = hit  # move-to-end: most-recently-used
        return hit[1]
    live = frozenset(read_manifest(root, version, need=())["files"])
    while len(_LIVE_SET_CACHE) >= _LIVE_SET_CACHE_CAP:
        _LIVE_SET_CACHE.pop(next(iter(_LIVE_SET_CACHE)))
    _LIVE_SET_CACHE[path] = (key, live)
    return live


def read_manifest(root: str, version: int, need=None) -> dict:
    """The manifest AS THE READER CONTRACT expects it: delta manifests
    (``delta_maps``) hydrate transparently — walk back to the nearest
    anchor, replay each commit's ``*_add`` entries (and, when the FILE
    LIST itself is folded, each commit's ``added``/``removed``) in
    order, restrict to the snapshot's live files/DVs — so every caller
    keeps seeing full ``files``/``stats``/``kf``/``fv``/``dvv`` keys
    regardless of how the log stores them. Every returned container is
    a fresh copy (callers may mutate without corrupting the raw cache;
    the entries INSIDE the maps stay shared and immutable).

    ``need`` (round 11, LAZY HYDRATION): the heavy per-file maps —
    ``stats``/``kf``/``rows``, each decoded from every file's sidecar
    cell — hydrate only when named (``None`` = all three, the default
    full contract). ``files``/``dvs``/``added``/``removed``/``fv``/
    ``dvv`` and every scalar key are ALWAYS present, which is all a
    plain scan plans from — the difference between ~ms and ~2.3 s of
    cold planning at 10^5 files (SCALE.md anchor_curve). ``need`` is a
    floor, not a projection: maps outside it MAY still be present
    (JSON-form manifests carry everything; an earlier full hydration
    stays cached), so callers must not rely on their absence."""
    return _hydrate_manifest(root, version, need)


def read_kf_cells(
    root: str,
    version: int,
    paths,
    *,
    live_only: bool = True,
    force_cells: bool = False,
) -> dict:
    """Key-filter entries for just ``paths`` — the point-lookup
    planning read (round 12). Resolves exactly as ``read_manifest``'s
    full kf hydration does — the NEWEST delta commit's ``kf_add``
    entry wins (a later spill/rebuild replaces the anchor's cell),
    then the anchor's own cell — but touches only the requested
    files: on a parquet-pointer anchor a small request decodes
    per-cell (row-group-sliced, ``_AnchorSide.kf_cells``) instead of
    json.loads over every file (~0.6 s at 10^5 files, the VERDICT r11
    first-cold-probe cost). By default the request is intersected with
    the snapshot's LIVE file set, matching full hydration's view — a
    removed-but-still-anchored path returns nothing, not a stale cell
    (ADVICE r12). The live set is a per-snapshot cached frozenset
    (ADVICE r13, ``_live_file_set``) so the default costs O(len(paths))
    membership, not an O(files) set rebuild per probe; internal
    planners that already filtered to live files pass
    ``live_only=False`` to skip even that; ``force_cells=True`` pins the
    per-cell decode so a planner's path decision threads through
    instead of being re-gated on the anchor's file count. Returned
    cell dicts are shared with the manifest caches: treat them as
    immutable."""
    if live_only:
        # cached frozenset (ADVICE r13): membership costs O(len(paths)),
        # not an O(n_files) set rebuild per probe — see _live_file_set
        live = _live_file_set(root, version)
        paths = [p for p in paths if p in live]
    return _read_kf_cells(root, version, paths, force_cells)


def _read_kf_cells(
    root: str, version: int, paths, force_cells: bool = False
) -> dict:
    v = version
    chain = [_load_manifest_raw(root, v)]
    while chain[-1].get("delta_maps"):
        v -= 1
        chain.append(_load_manifest_raw(root, v))
    out: dict = {}
    remaining = list(paths)
    # newest-first, first hit wins == the hydrate replay's oldest-
    # first update() order, restricted to the requested paths
    for mm in chain[:-1]:
        if not remaining:
            break
        add = mm.get("kf_add")
        if add:
            still = []
            for p in remaining:
                cell = add.get(p)
                if cell is not None:
                    out[p] = cell
                else:
                    still.append(p)
            remaining = still
    anchor = chain[-1]
    if remaining:
        if anchor.get("anchor_parquet"):
            out.update(
                _anchor_side(root, anchor).kf_cells(remaining, force_cells)
            )
        else:
            kf = anchor.get("kf") or {}
            for p in remaining:
                cell = kf.get(p)
                if cell is not None:
                    out[p] = cell
    return out


def _hydrate_manifest(root: str, version: int, need=None) -> dict:
    raw = _load_manifest_raw(root, version)
    # fv/dvv always hydrate (exceptions-only — tiny — and DV scoping
    # needs them on every scan); need gates only the heavy maps
    keys = tuple(
        k for k in _DELTA_KEYS
        if need is None or k in need or k not in _ANCHOR_LAZY_KEYS
    )
    if not raw.get("delta_maps"):
        out = dict(_anchor_expand(root, raw, need))
        for k in ("files", "added", "removed", "dvs", "dv_key",
                  "stats_cols"):
            if k in out:
                out[k] = list(out[k])
        for k in _DELTA_KEYS:
            if k in out:
                out[k] = dict(out[k])
        return out
    chain = [raw]
    v = version - 1
    while True:
        prev = _load_manifest_raw(root, v)
        chain.append(prev)
        if not prev.get("delta_maps"):
            break
        v -= 1
    maps: dict[str, dict] = {k: {} for k in keys}
    files: list[str] = []
    for mm in reversed(chain):
        if mm.get("delta_maps"):
            if "files" in mm:
                # this delta kept its list (reconstruction-order check
                # failed at commit time — see _commit)
                files = list(mm["files"])
            else:
                rm = set(mm.get("removed", []))
                files = [f for f in files if f not in rm] + list(
                    mm.get("added", [])
                )
            for k in keys:
                maps[k].update(mm.get(f"{k}_add", {}))
        else:
            mm = _anchor_expand(root, mm, need)  # parquet-pointer anchors
            files = list(mm["files"])
            for k in keys:
                maps[k] = dict(mm.get(k, {}))
    out = dict(raw)
    for k in ("added", "removed", "dvs", "dv_key", "stats_cols"):
        if k in out:
            out[k] = list(out[k])
    out["files"] = files
    live = set(files)
    dvs = set(raw.get("dvs", []))
    for k in ("stats", "kf", "fv", "rows"):
        if k in maps:
            out[k] = {p: s for p, s in maps[k].items() if p in live}
    out["dvv"] = {d: v2 for d, v2 in maps["dvv"].items() if d in dvs}
    for k in _DELTA_KEYS:
        out.pop(f"{k}_add", None)
    out.pop("delta_maps", None)
    return out


def _list_parquet(commit_dir: str) -> list[str]:
    return sorted(
        os.path.join(commit_dir, f)
        for f in os.listdir(commit_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def committed_txn(root: str, txn_id: str) -> int | None:
    """Version that already committed ``txn_id``, or None. With a
    manifest checkpoint (``checkpoint_manifest``) the lookup is the
    checkpointed txn map plus a scan of only the commits SINCE it —
    O(delta), the bound a streaming sink needs when the table carries
    millions of micro-batch txns. Without one, the linear scan is the
    honest baseline."""
    ckpt = _latest_checkpoint(root)
    floor = 0
    if ckpt is not None:
        hit = ckpt["txns"].get(txn_id)
        if hit is not None:
            return hit
        floor = ckpt["version"]
    for v in range(table_version(root), floor, -1):
        # raw: the scan needs txn_id only — no map hydration
        if _load_manifest_raw(root, v).get("txn_id") == txn_id:
            return v
    return None


def checkpoint_manifest(root: str) -> int:
    """Write a manifest CHECKPOINT at the current version: the
    _last_checkpoint discipline the public log-structured formats
    document. ``ckpt-v{N}.json`` carries N plus the full txn-id ->
    version map accumulated so far (previous checkpoint's map + the
    manifests since), so ``table_version`` plans by forward existence
    probes instead of directory listings and ``committed_txn`` answers
    from the map + an O(delta) tail scan. Run it on the maintenance
    cadence (e.g. every K streaming batches, beside compact/optimize);
    cost is O(commits since the last checkpoint). Returns the
    checkpointed version."""
    prev = _latest_checkpoint(root)
    floor = prev["version"] if prev else 0
    txns = dict(prev["txns"]) if prev else {}
    latest = table_version(root)
    for v in range(floor + 1, latest + 1):
        t = _load_manifest_raw(root, v).get("txn_id")  # txn_id only
        if t is not None:
            txns[t] = v
    path = os.path.join(root, _MANIFESTS, f"ckpt-{latest:08d}.json")
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"version": latest, "txns": txns}, f)
    os.replace(tmp, path)
    return latest


def _footer_stats(path: str, cols: list[str]) -> dict[str, list]:
    """Per-column ``[min, max]`` zone map lifted from the parquet FOOTER
    (row-group statistics) — a metadata read of a few KB, never a data
    scan, which is what keeps stats collection O(files) at commit time.
    Columns whose stats are absent in any row group, or whose min/max
    isn't a JSON-portable scalar, are dropped (conservative: a file
    with no zone map is never pruned)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {}
    for name in cols:
        lo = hi = None
        ok = md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            stat = None
            for ci in range(group.num_columns):
                col = group.column(ci)
                if col.path_in_schema == name:
                    stat = col.statistics
                    break
            if stat is None or not stat.has_min_max:
                ok = False
                break
            if not isinstance(stat.min, (int, float, str)) or isinstance(
                stat.min, bool
            ):
                ok = False
                break
            lo = stat.min if lo is None else min(lo, stat.min)
            hi = stat.max if hi is None else max(hi, stat.max)
        if ok:
            out[name] = [lo, hi]
    return out


def _collect_stats(root: str, files: list[str], cols: list[str]) -> dict:
    return {
        os.path.relpath(f, root): _footer_stats(f, cols) for f in files
    }


_KF_MASK = (1 << 64) - 1
_KF_SEED1 = 0x9E3779B97F4A7C15
_KF_SEED2 = 0xD1B54A32D192ED03
_KF_MUL1 = 0xBF58476D1CE4E5B9
_KF_MUL2 = 0x94D049BB133111EB
# pandas hash_array keys (exactly 16 bytes each): the STRING-key hash,
# chosen because pandas' siphash kernel runs vectorized over a whole
# object column (a Python blake2b loop was the build bottleneck for
# string-keyed corpora — doc_id strings are the common LLM-pipeline
# key); the scalar twin hashes a 1-element array through the same
# kernel, so build and probe agree bit-for-bit
_KF_HK1 = "qs-kf-hash-key-1"
_KF_HK2 = "qs-kf-hash-key-2"


def _kf_mix64(x: int, seed: int) -> int:
    """splitmix64 finalizer — pure 64-bit arithmetic, so the BUILD side
    can run it vectorized over a whole numpy column while the probe
    sides run the identical scalar form."""
    x = (x + seed) & _KF_MASK
    x ^= x >> 30
    x = (x * _KF_MUL1) & _KF_MASK
    x ^= x >> 27
    x = (x * _KF_MUL2) & _KF_MASK
    x ^= x >> 31
    return x


def _kf_hash_pair(value) -> tuple[int, int]:
    """Two independent 64-bit hashes of a key value, identical across
    the three probe surfaces (pyarrow build, pandas-UDF probe, driver
    list probe): numpy scalars normalize via ``.item()``. INTEGER keys
    (the overwhelmingly common case) take the arithmetic splitmix64
    path — two's-complement into 64 bits, then two seeded mixes — so
    the commit-time build vectorizes over the whole column instead of
    hashing value-by-value in a Python loop (measured 1M int keys:
    ~4 s/file looped vs ~30 ms vectorized). Other types hash their
    type-tagged bytes through blake2b halves — so int 5 and the string
    "5" never collide by construction."""
    import hashlib

    v = value.item() if hasattr(value, "item") else value
    if isinstance(v, bool):
        b = b"b1" if v else b"b0"
    elif isinstance(v, int):
        x = v & _KF_MASK
        return _kf_mix64(x, _KF_SEED1), _kf_mix64(x, _KF_SEED2) | 1
    elif isinstance(v, str):
        import numpy as np

        a = np.array([v], dtype=object)
        return (
            int(pd.util.hash_array(a, hash_key=_KF_HK1)[0]),
            int(pd.util.hash_array(a, hash_key=_KF_HK2)[0]) | 1,
        )
    elif v is None:
        b = b"\x00"
    elif isinstance(v, float):
        # Arrow->pandas promotes an int column WITH NULLS to float64:
        # 5 arrives as 5.0 and NaN stands in for the null. Integral
        # floats therefore canonicalize to the int path and NaN to the
        # null hash, on BOTH build and probe sides — otherwise a
        # null-containing key batch would silently false-negative
        # every real key in it
        if v != v:  # NaN
            b = b"\x00"
        elif v.is_integer():
            x = int(v) & _KF_MASK
            return _kf_mix64(x, _KF_SEED1), _kf_mix64(x, _KF_SEED2) | 1
        else:
            b = b"f" + repr(v).encode()
    elif isinstance(v, bytes):
        b = b"x" + v
    else:
        b = b"s" + str(v).encode()
    d = hashlib.blake2b(b, digest_size=16).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,  # odd: full-period stride
    )


_KF_K = 7  # hash functions; with m ~= 10 bits/key -> ~1% false positives
_KF_INLINE_BITS = 1 << 14  # <= 2 KiB raw inlines into the manifest
_KF_MAX_BITS = 1 << 24  # 2 MiB sidecar cap = ~1.6M keys/file at the
#                         10-bit design point; fpr degrades gracefully
#                         past it (conservative, never wrong) — size
#                         files under that for exact-point pruning


def _kf_build(
    path: str, col: str, bits_per_key: int = 10, tag: str = ""
) -> dict | None:
    """Per-file KEY-MEMBERSHIP filter (classic Bloom, double hashing —
    the same mechanism parquet's own bloom_filter pages document): one
    column read of the just-written file at commit time, m ~= 10 bits
    per value (capped), k=7. SMALL filters inline base64 into the
    manifest (``b``); larger ones spill to a SIDECAR binary beside the
    data file (``p`` = relative path, ``<datafile>.<col>.kf``) so
    manifests stay metadata-sized at production file sizes — the
    planner loads sidecars lazily, only for files the zone stage
    admitted, and a sidecar lives beside its data file. Membership is the pruning
    complement to zone RANGES for keys the table is NOT clustered on,
    where every file's range overlaps and zone maps prune nothing.
    Integer columns build VECTORIZED (numpy splitmix64 over the whole
    column — 1M keys in ~30 ms vs ~4 s hashed value-by-value); other
    types hash per value. Returns None when the column is missing
    (file stays conservatively unfiltered).

    ``bits_per_key`` sizes the filter (round 9, sticky per table via
    ``write_version(key_filter_bits=)``): 10 bits -> ~1 percent FPR is
    the point-lookup design point; merge-heavy tables buy a lower rate
    with more bits — the useful probe-set bound q <~ 1/fpr moves
    linearly in it. k tracks the information-theoretic optimum
    (~0.693 x bits/key), stored per filter so mixed-vintage snapshots
    probe correctly."""
    import base64

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    if col not in pf.schema_arrow.names:
        return None
    column = pf.read(columns=[col]).column(col)
    n = len(column)
    m = max(256, min(_KF_MAX_BITS, bits_per_key * max(1, n)))
    m = (m + 7) // 8 * 8
    k = max(1, round(0.693 * bits_per_key)) if bits_per_key != 10 else _KF_K
    bits = np.zeros(m // 8, dtype=np.uint8)
    arr = column.combine_chunks() if column.num_chunks != 1 else column.chunk(0)

    def set_bits_vec(h1, h2):
        # double-hashed positions, numpy-wide; uint64 wrap matches the
        # scalar probes' explicit & _KF_MASK
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).astype(np.int64),
                (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
            )

    def set_bits_scalar(values):
        for v in values:
            h1, h2 = _kf_hash_pair(v)
            for i in range(k):
                pos = ((h1 + i * h2) & _KF_MASK) % m
                bits[pos >> 3] |= np.uint8(1 << (pos & 7))

    if pa.types.is_integer(arr.type):
        # vectorized splitmix64 over the whole column (numpy uint64
        # arithmetic wraps modulo 2^64, exactly the scalar semantics)
        x = arr.drop_null().to_numpy(zero_copy_only=False).astype(np.uint64)
        if len(x) < n:  # nulls present: hash them through the scalar path
            set_bits_scalar([None])

        def mix(v, seed):
            v = v + np.uint64(seed)
            v ^= v >> np.uint64(30)
            v *= np.uint64(_KF_MUL1)
            v ^= v >> np.uint64(27)
            v *= np.uint64(_KF_MUL2)
            v ^= v >> np.uint64(31)
            return v

        set_bits_vec(mix(x, _KF_SEED1), mix(x, _KF_SEED2) | np.uint64(1))
    elif pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        # vectorized siphash over the whole object column (pandas'
        # hashing kernel; the scalar twin in _kf_hash_pair runs the
        # same kernel on a 1-element array)
        obj = arr.drop_null().to_numpy(zero_copy_only=False)
        if len(obj) < n:
            set_bits_scalar([None])
        set_bits_vec(
            pd.util.hash_array(obj, hash_key=_KF_HK1),
            pd.util.hash_array(obj, hash_key=_KF_HK2) | np.uint64(1),
        )
    else:
        set_bits_scalar(arr.to_pylist())
    # ones-DENSITY, stored per filter (round 10): fpr ~= d^k, so the
    # manifest alone tells the maintenance pass which filters have
    # saturated (old low-bits vintage, or rows past the m cap) without
    # touching a bitmap — the gate `d > max_density` is metadata-only
    d = round(float(np.unpackbits(bits).sum()) / m, 4)
    if m <= _KF_INLINE_BITS:
        return {
            "m": m,
            "k": k,
            "d": d,
            "b": base64.b64encode(bits.tobytes()).decode(),
        }
    # ``tag`` (a rebuild pass) versions the sidecar NAME: older
    # manifests keep referencing the original bitmap byte-for-byte
    # (their recorded m/k must match it for time travel)
    sidecar = (
        f"{path}.{col}.{tag}.kf" if tag else f"{path}.{col}.kf"
    )
    tmp = sidecar + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(bits.tobytes())
    os.replace(tmp, sidecar)
    return {"m": m, "k": k, "d": d, "p": os.path.basename(sidecar)}


def _kf_raw(root: str, rel_file: str, filt: dict) -> bytes:
    """The filter's bitmap: inline base64 (``b``) or the sidecar beside
    ``rel_file`` (``p``)."""
    import base64

    if "b" in filt:
        return base64.b64decode(filt["b"])
    return open(
        os.path.join(root, os.path.dirname(rel_file), filt["p"]), "rb"
    ).read()


def _kf_raw_many(
    root: str, items: list[tuple[str, dict]]
) -> list[bytes]:
    """Bitmaps for many (rel_file, filter) pairs. Sidecar-backed
    filters load through a thread pool past a small count — on an
    object store each load is a latency-bound GET, so planning over
    hundreds of zone-admitted candidates wants the fan-out (inline
    filters decode in place either way)."""
    if sum(1 for _f, filt in items if "p" in filt) <= 8:
        return [_kf_raw(root, f, filt) for f, filt in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(
            pool.map(lambda it: _kf_raw(root, it[0], it[1]), items)
        )


def _kf_hash_batch(values):
    """(h1, h2) uint64 arrays for a whole batch of key values —
    the vectorized twin of ``_kf_hash_pair``, used by the distributed
    membership probe so a million-key merge source hashes in a handful
    of numpy passes instead of a Python loop per key. Integer batches
    run splitmix64 array-wide; string/object batches run the pandas
    siphash kernel; anything else (or a batch with nulls) falls back
    to the scalar path per value — identical bits in every case."""
    import numpy as np

    arr = np.asarray(values)
    if np.issubdtype(arr.dtype, np.integer):
        x = arr.astype(np.uint64)

        def mix(v, seed):
            v = v + np.uint64(seed)
            v ^= v >> np.uint64(30)
            v *= np.uint64(_KF_MUL1)
            v ^= v >> np.uint64(27)
            v *= np.uint64(_KF_MUL2)
            v ^= v >> np.uint64(31)
            return v

        return mix(x, _KF_SEED1), mix(x, _KF_SEED2) | np.uint64(1)
    if arr.dtype == object and all(isinstance(v, str) for v in arr):
        return (
            pd.util.hash_array(arr, hash_key=_KF_HK1),
            pd.util.hash_array(arr, hash_key=_KF_HK2) | np.uint64(1),
        )
    pairs = [_kf_hash_pair(v) for v in values]
    return (
        np.array([p[0] for p in pairs], dtype=np.uint64),
        np.array([p[1] for p in pairs], dtype=np.uint64),
    )


def _kf_hit(filt: dict, h1: int, h2: int, raw: bytes) -> bool:
    m, k = filt["m"], filt["k"]
    for i in range(k):
        # wrap at 64 bits BEFORE the modulus: the vectorized build does
        # (numpy uint64), and m is not a power of two
        pos = ((h1 + i * h2) & _KF_MASK) % m
        if not raw[pos >> 3] & (1 << (pos & 7)):
            return False
    return True


_KF_FLOAT_EXACT = float(1 << 53)  # float64 integer-exactness bound


def _kf_value_exact(v) -> bool:
    """False when ``v`` is a float whose integral value may have LOST
    PRECISION on the way here (|v| >= 2^53): Arrow->pandas promotes an
    int64 column that shares a batch with a NULL to float64, and past
    2^53 that promotion ROUNDS — hashing the rounded value against a
    filter built from the exact int64 would be a FALSE NEGATIVE, the
    one failure Bloom pruning must never have (a skipped file that
    really contains the key turns a merge update into a silent
    duplicate insert). Such values must ADMIT EVERY FILE instead of
    being hashed (conservative: extra IO, never wrong). Exact-typed
    values (int, str, bytes, bool, None, small/NaN/fractional floats)
    hash normally."""
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float) and v == v and v not in (
        float("inf"), float("-inf")
    ):
        return not (v.is_integer() and abs(v) >= _KF_FLOAT_EXACT)
    return True


# Past this many zone-admitted candidates the membership probe stops
# loading filter bitmaps on the DRIVER: sidecar filters ship as PATHS
# in a broadcast and are read (and cached) executor-side, so planning
# memory and per-task bytes stay flat in candidate count — the
# closure-shipping the round-8 design did is a driver bottleneck at
# thousands of candidates x up to 2 MiB/filter (VERDICT r8 #1,
# ADVICE r8). At or below it the old in-closure fast path is cheaper
# than a broadcast round-trip.
_KF_DRIVER_LOAD_MAX = 8

# Per-probe-job budget for the candidates' total bitmap bytes: past it
# the membership probe splits into chunks (union of admitted sets) so
# an executor's working set fits the sidecar cache (256 MiB,
# _KF_EXEC_CACHE_CAP below) instead of evicting and re-reading within
# one pass. Half the cache cap leaves room for a concurrent probe's
# chunk in the same worker process.
_KF_PROBE_CHUNK_BYTES = 1 << 27  # 128 MiB

# per-executor-process sidecar bitmap cache (bounded, LRU eviction —
# a re-probed filter survives an eviction pass instead of aging out in
# insertion order, ADVICE/VERDICT r9): repeated probes over the same
# snapshot — the steady state of a merge-every-batch pipeline — hit
# memory, not the object store. A running byte total replaces the
# O(n)-per-miss sum, and a single bitmap larger than the cap is served
# WITHOUT being cached (it would otherwise pin the cache over cap).
_KF_EXEC_CACHE: dict[str, bytes] = {}
_KF_EXEC_CACHE_CAP = 1 << 28  # 256 MiB of cached bitmaps per process
_KF_EXEC_CACHE_BYTES = 0


def _kf_exec_raw(path: str | None, inline: bytes | None) -> bytes:
    """Executor-side bitmap fetch: inline bytes pass through; sidecar
    paths read once per process and cache (bounded, LRU)."""
    global _KF_EXEC_CACHE_BYTES
    if inline is not None:
        return inline
    got = _KF_EXEC_CACHE.pop(path, None)
    if got is not None:
        _KF_EXEC_CACHE[path] = got  # move-to-end: most-recently-used
        return got
    with open(path, "rb") as f:
        got = f.read()
    if len(got) > _KF_EXEC_CACHE_CAP:
        return got  # oversize: serve, never cache
    _KF_EXEC_CACHE_BYTES += len(got)
    while _KF_EXEC_CACHE_BYTES > _KF_EXEC_CACHE_CAP and _KF_EXEC_CACHE:
        _KF_EXEC_CACHE_BYTES -= len(
            _KF_EXEC_CACHE.pop(next(iter(_KF_EXEC_CACHE)))
        )
    _KF_EXEC_CACHE[path] = got
    return got


def _collect_key_filters(
    root: str, rels: list[str], cols: list[str],
    bits_per_key: int = 10, tag: str = ""
) -> dict:
    out: dict = {}
    for p in rels:
        filters = {}
        for c in cols:
            f = _kf_build(os.path.join(root, p), c, bits_per_key, tag)
            if f is not None:
                filters[c] = f
        if filters:
            out[p] = filters
    return out


def key_membership_pruned(
    root: str, version: int, col, values, candidates=None
) -> tuple[list[str], list[str]]:
    """Split ``version``'s file list into (kept, skipped) for a
    key-IN read: a file is kept iff its membership filter admits at
    least one of ``values`` (files without a filter for ``col`` are
    always kept — conservative). Pure driver-side metadata against the
    already-loaded manifest — the point-lookup planning step that
    makes ``WHERE key IN (...)`` on an UNCLUSTERED key read a handful
    of files instead of all of them (zone ranges all overlap there).
    False positives only cost an extra file scan, never correctness.
    Inline filters test from the manifest alone; spilled ones read
    their sidecar (one small driver read per candidate file).

    ``candidates`` (round 12): an optional pre-admitted subset (e.g.
    the zone-pruned ``kept`` list from ``pruned_files``) — only those
    files are split, and on a parquet-pointer anchor a SMALL candidate
    set resolves its kf metadata per-cell (``read_kf_cells``) instead
    of decoding the whole kf column, the ~0.6 s-at-10^5-files
    first-cold-probe cost VERDICT r11 flagged. Files outside the
    snapshot are dropped, manifest order is kept."""
    manifest = read_manifest(root, version, need=())
    files = manifest["files"]
    if candidates is not None:
        cset = set(candidates)
        files = [f for f in files if f in cset]
    if not all(_kf_value_exact(v) for v in values):
        # a float-promoted integral value past 2^53 may have rounded:
        # hashing it risks a FALSE NEGATIVE, so such a probe set keeps
        # every file (conservative; see _kf_value_exact)
        return list(files), []
    kf = manifest.get("kf")
    if kf is None:
        # pointer-anchor snapshot (JSON-form manifests carry kf even
        # at need=() — the floor contract): small probe sets decode
        # per-cell; big ones take the cached full-column decode.
        # AND, not OR (ADVICE r13): because force_cells makes THIS
        # gate authoritative, a mid-size candidate set (e.g. 5k files
        # on a 100k-file table) must not take the per-cell path — 5k
        # row-group-sliced decodes cost more than the one full-column
        # decode, and the full map caches for every later caller
        # where per-cell results only fill the side entry's bounded
        # cell cache
        if (
            len(files) <= _KF_CELL_PROBE_MAX
            and len(files) * 8 <= max(len(manifest["files"]), 1)
        ):
            # files already ⊆ the snapshot's live list (built from it
            # above), so skip the live-set intersection, and thread
            # THIS gate's decision through so the anchor layer doesn't
            # re-gate on its own n_files (ADVICE r12)
            kf = read_kf_cells(
                root, version, files, live_only=False, force_cells=True
            )
        else:
            kf = read_manifest(root, version, need=("kf",)).get("kf", {})
    pairs = [_kf_hash_pair(v) for v in values]
    kept, skipped = [], []
    probe = []
    for f in files:
        filt = kf.get(f, {}).get(col)
        if filt is None:
            kept.append(f)
        else:
            probe.append((f, filt))
    raws = _kf_raw_many(root, probe)
    for (f, filt), raw in zip(probe, raws):
        if any(_kf_hit(filt, h1, h2, raw) for h1, h2 in pairs):
            kept.append(f)
        else:
            skipped.append(f)
    # keep manifest order (planning output feeds file lists)
    kept_set = set(kept)
    return (
        [f for f in files if f in kept_set],
        [f for f in files if f not in kept_set],
    )


class ConcurrentWriteError(RuntimeError):
    """A racing writer committed between this operation's snapshot read
    and its manifest claim, and the operation's output was DERIVED from
    that snapshot (merge/compact/optimize/overwrite/delete/rollback) —
    blindly re-claiming would silently drop the racer's commit (lost
    update). Re-run the operation against the new snapshot; plain
    appends never hit this (they re-merge and retry internally)."""


def _commit(root: str, files: list[str], added: list[str],
            removed: list[str], op: str, txn_id: str | None = None,
            stats: dict | None = None, stats_cols: list[str] | None = None,
            dvs: list[str] | None = None,
            dv_key: list[str] | None = None,
            expected_version: int | None = None,
            schema: dict | None = None,
            file_versions: dict | None = None,
            dv_versions: dict | None = None,
            extra: dict | None = None,
            kf_cols: list[str] | None = None,
            key_filters: dict | None = None,
            kf_bits: int | None = None,
            file_rows: dict | None = None,
            anchor_min: int | None = None) -> int:
    """Atomically claim the next version number for this snapshot.

    ``expected_version`` is the optimistic-concurrency guard for
    operations whose file list was DERIVED from a specific snapshot: if
    another writer claimed a version past it, raise
    ``ConcurrentWriteError`` instead of committing a manifest that
    would erase the racer's files. Pure appends pass None and instead
    RE-MERGE on retry (the caller hands us only its new files via
    ``added``; the snapshot half of ``files`` is refreshed from the
    latest manifest each attempt), so concurrent appends all land.

    Every manifest records each member file's ACTUAL committed version
    (``fv``: data files, ``dvv``: deletion vectors) — stored
    EXCEPTIONS-ONLY (entries where the true version differs from the
    path vintage, i.e. race losers; readers fall back to
    ``_commit_of``, exact for everything else, so the maps add ~zero
    manifest bytes in the common case): carried files keep their prior
    entry, this commit's new files get the version CLAIMED here —
    inside the claim loop, so an append that loses N manifest races
    records the number it really landed at, not the one in its
    directory name. That is what makes deletion-vector scoping exact
    under concurrency (see ``_read_with_dvs``). ``file_versions`` /
    ``dv_versions`` are caller hints that OVERRIDE the added->claimed
    rule for files re-entering the snapshot from an older manifest —
    rollback passes its target's EFFECTIVE map covering every file,
    since an uncovered re-entering file would be mis-stamped with the
    new version; unknown files fall back to the path-derived
    ``_commit_of`` (pre-map manifests, conservative).

    ``extra`` merges additional caller keys into the manifest (e.g.
    ``zorder_cols`` so an incremental re-cluster can find the last
    matching layout commit).

    KEY-MEMBERSHIP FILTERS are maintained here so every commit path
    (append, merge, compact, optimize, zorder, rollback) keeps the
    whole snapshot filter-covered without per-caller plumbing: when
    the table declares ``kf_cols`` (sticky from the first commit that
    passes it, like ``stats_cols``), each ADDED data file gets a
    per-file Bloom filter built from one column read at commit time;
    carried files keep their recorded filter, and ``key_filters`` is
    the rollback-style hint for files re-entering from an older
    manifest. Filters live in the manifest (``kf``), so membership
    planning — ``key_membership_pruned``, ``_touched_by_keys`` — is
    driver-side metadata."""
    mdir = os.path.join(root, _MANIFESTS)
    os.makedirs(mdir, exist_ok=True)
    stats = stats or {}
    merge_appends = expected_version is None and op == "append"
    hint_kf = key_filters or {}
    built_kf: dict | None = None  # built once, on the first attempt
    built_rows: dict | None = None
    eff_kf_cols: list[str] = list(kf_cols or [])
    while True:
        # re-check inside the claim loop: a racing writer may have landed
        # this txn while we were writing data files
        if txn_id is not None:
            seen = committed_txn(root, txn_id)
            if seen is not None:
                return seen
        current = table_version(root)
        if expected_version is not None and current != expected_version:
            raise ConcurrentWriteError(
                f"{op} planned against v{expected_version} of {root} but "
                f"the table is at v{current}; re-run against the new "
                "snapshot"
            )
        prev_m = read_manifest(root, current) if current else {}
        if merge_appends:
            # lost-update guard for appends: the snapshot may have moved
            # since the caller read it — carry the LATEST file list (and
            # its stats/DV metadata) plus our new files
            base = [f for f in prev_m.get("files", [])]
            rel = base + [
                os.path.relpath(f, root)
                for f in added
                if os.path.relpath(f, root) not in set(base)
            ]
            stats = {**prev_m.get("stats", {}), **stats}
            dvs = prev_m.get("dvs", [])
            dv_key = prev_m.get("dv_key", [])
            stats_cols = stats_cols or prev_m.get("stats_cols", [])
            sch = schema or prev_m.get("schema")
        else:
            rel = [os.path.relpath(f, root) for f in files]
            # evolved schemas carry forward through every non-overwrite
            # commit; an overwrite resets schema tracking to the new
            # data, and a rollback restores its TARGET's schema (passed
            # explicitly by the caller, absent = pre-evolution)
            if schema is not None:
                sch = schema
            elif (
                op != "overwrite"
                and not op.startswith("rollback")
                and current
            ):
                sch = prev_m.get("schema")
            else:
                sch = None
        version = current + 1
        added_rel = {os.path.relpath(f, root) for f in added}
        prev_fv = prev_m.get("fv", {})
        hint_fv = file_versions or {}
        fv = {}
        for p in rel:
            if p in prev_fv:
                fv[p] = prev_fv[p]
            elif p in hint_fv:
                fv[p] = hint_fv[p]
            elif p in added_rel:
                fv[p] = version
            else:
                fv[p] = _commit_of(p)
        prev_dvv = prev_m.get("dvv", {})
        prev_dvs = set(prev_m.get("dvs", []))
        hint_dvv = dv_versions or {}
        dvv = {}
        for d in dvs or []:
            if d in prev_dvv:
                dvv[d] = prev_dvv[d]
            elif d in hint_dvv:
                dvv[d] = hint_dvv[d]
            elif op == "delete" and d not in prev_dvs:
                # new vectors only enter via a delete commit — they
                # scope to the version claimed HERE (a claim race can
                # land them under a different number than their path)
                dvv[d] = version
            else:
                # CARRIED vectors whose explicit dvv entry was elided
                # (it equaled the path vintage) keep that vintage —
                # stamping them to the new delete's version would make
                # an old tombstone apply to files appended since,
                # shadowing re-inserted keys the docstring contract
                # (and the change feed) say stay live (round-13 CDC
                # replay property caught this)
                dvv[d] = _commit_of(d)
        prev_kf = prev_m.get("kf", {})
        eff_kf_bits = int(kf_bits or prev_m.get("kf_bits", 10))
        if built_kf is None:
            # build filters for this commit's new files ONCE (the added
            # set never changes across claim retries); the effective
            # column list — and the bits/key sizing — is sticky from
            # the snapshot's manifest
            eff_kf_cols = list(kf_cols or prev_m.get("kf_cols", []))
            todo = [
                p for p in (os.path.relpath(f, root) for f in added)
                if p not in hint_kf and p not in prev_kf
            ] if eff_kf_cols else []
            built_kf = _collect_key_filters(
                root, todo, eff_kf_cols, eff_kf_bits
            )
        kf = {}
        for p in rel:
            # hint FIRST: for rollback the hint equals the carried
            # entry wherever both exist (filters are per-file
            # immutable), and a key-filter REBUILD commit (round 10)
            # must be able to replace a carried saturated filter
            got = hint_kf.get(p) or prev_kf.get(p) or built_kf.get(p)
            if got:
                kf[p] = got
        # per-file ROW COUNTS (round 10): one footer read per ADDED
        # file at commit time (carried files keep their entry; hints
        # cover rollback's re-entering files), so maintenance gates —
        # optimize's small-file count, the key-filter saturation check —
        # plan from the manifest alone. Absent entries (pre-rows history, unreadable footer)
        # mean "unknown"; gates fall back to a footer read for those.
        prev_rows = prev_m.get("rows", {})
        hint_rows = file_rows or {}
        if built_rows is None:
            import pyarrow.parquet as pq

            built_rows = {}
            for f in added:
                p = os.path.relpath(f, root)
                if p not in hint_rows and p not in prev_rows:
                    try:
                        built_rows[p] = pq.ParquetFile(
                            f
                        ).metadata.num_rows
                    except Exception:
                        pass
        rows_map = {}
        for p in rel:
            got_r = prev_rows.get(p, hint_rows.get(p, built_rows.get(p)))
            if got_r is not None:
                rows_map[p] = got_r
        manifest = {
            "version": version,
            "op": op,
            "files": rel,
            "added": [os.path.relpath(f, root) for f in added],
            "removed": [os.path.relpath(f, root) for f in removed],
            "txn_id": txn_id,
            "stats_cols": stats_cols or [],
            "dvs": dvs or [],
            "dv_key": dv_key or [],
            "kf_cols": eff_kf_cols,
            "kf_bits": eff_kf_bits,
        }
        # EXCEPTIONS-ONLY fv/dvv: a file's committed version is its
        # path-derived vintage unless recorded (only race losers
        # differ); readers fall back to _commit_of for absent keys
        full = {
            "stats": {p: stats[p] for p in rel if p in stats},
            "kf": kf,
            "fv": {p: v for p, v in fv.items() if v != _commit_of(p)},
            "dvv": {
                d: v for d, v in dvv.items() if v != _commit_of(d)
            },
            "rows": rows_map,
        }
        side_path = None
        if version % _ANCHOR_EVERY == 1:
            # ANCHOR: full maps (v1 and every _ANCHOR_EVERY-th commit;
            # bounds every reader's hydration replay). Large anchors
            # fold the list + maps into a parquet sidecar so even the
            # amortized O(files)/_ANCHOR_EVERY JSON term stays flat at
            # 10^5 files (round 10; _anchor_fold is a no-op below
            # _ANCHOR_PARQUET_MIN entries).
            manifest.update(full)
        else:
            # DELTA: only entries new or changed vs the previous
            # effective maps — the O(changed) storage that keeps the
            # log's cumulative metadata flat in commit count
            manifest["delta_maps"] = True
            for k in _DELTA_KEYS:
                prev_map = prev_m.get(k, {})
                manifest[f"{k}_add"] = {
                    p: s
                    for p, s in full[k].items()
                    if prev_map.get(p) != s
                }
            # FILE-LIST fold (round 9): the list itself is the last
            # O(files) per-commit term. Omit it when this snapshot is
            # EXACTLY (prev files - removed) + added in that order —
            # true for every append/merge/compact/optimize/zorder/
            # delete/evolve commit by construction; hydration
            # replays the transition. Kept verbatim when the check
            # fails (e.g. a rollback whose target interleaves files
            # differently), so correctness never rides on the fold.
            rms = set(manifest["removed"])
            expected = [
                f for f in prev_m.get("files", []) if f not in rms
            ] + manifest["added"]
            if expected == rel:
                del manifest["files"]
        if extra:
            manifest.update(extra)
        if sch is not None:
            manifest["schema"] = sch
        # commit wall-clock, for DESCRIBE HISTORY / timestamp travel;
        # ordering truth stays the version number (clocks can skew)
        manifest["ts"] = time.time()
        if version % _ANCHOR_EVERY == 1:
            side_path = _anchor_fold(root, manifest, anchor_min)
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, _manifest_path(root, version))
            os.unlink(tmp)
        except FileExistsError:
            os.unlink(tmp)  # lost the race; retry with the next number
            if side_path is not None:
                # our sidecar was written for the version a racer just
                # claimed — uniquely named, so unlinking it can't touch
                # the winner's; the retry rebuilds for the new number
                try:
                    os.unlink(side_path)
                except OSError:
                    pass
            continue
        if version % _ANCHOR_EVERY == 1 and version > 1:
            # AUTO-CHECKPOINT on the anchor cadence: every commit's
            # txn-idempotence recheck scans manifests back to the last
            # checkpoint, so a table relying on callers to checkpoint
            # saw that scan grow O(commits x manifest size) — at 2400
            # single-row appends the measured commit cost had climbed
            # ~0.2 s -> ~4 s (write_path_curve, round 9). Anchors
            # already pay an O(files) manifest; the O(delta<=32) txn
            # fold rides along and bounds every later scan to one
            # anchor window. Best-effort: the commit itself already
            # landed, and a failed checkpoint only costs scan depth.
            try:
                checkpoint_manifest(root)
            except Exception:
                pass
        return version


def write_version(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    mode: str = "append",
    txn_id: str | None = None,
    stats_cols: list[str] | None = None,
    key_filter_cols: list[str] | None = None,
    key_filter_bits: int | None = None,
    anchor_parquet_min: int | None = None,
) -> int:
    """Commit ``df`` as a new table version.

    ``anchor_parquet_min`` overrides the anchor parquet-fold threshold
    for THIS commit (default ``_ANCHOR_PARQUET_MIN``) — a parameter so
    tests forcing tiny folds don't rebind the module global under
    concurrent writers (ADVICE r10).

    ``mode='append'`` adds the rows to the current snapshot;
    ``'overwrite'`` replaces it (previous files leave the snapshot but
    stay on disk for time-travel). Returns the committed version.

    ``txn_id`` makes the commit IDEMPOTENT: if any manifest
    already carries it, the write is a no-op returning that version —
    the transactional-writer discipline that turns a retried streaming
    micro-batch into exactly-once (see ``start_versioned_sink``).

    ``stats_cols`` records per-file min/max ZONE MAPS for those columns
    in the manifest (footer metadata reads, no data scan); once set on
    a table's first commit the column list is sticky — later appends
    stat their new files with the same list so the whole snapshot stays
    prunable. Cluster the data on the stat column first (e.g.
    ``df.repartitionByRange(n, col)``) or the zone maps all overlap and
    prune nothing.

    ``key_filter_cols`` additionally records a per-file KEY-MEMBERSHIP
    filter (Bloom; ``key_filter_bits``/row, default 10 ~ 1 percent
    FPR, capped) for those columns — one column read per new file at
    commit time. Both the column list and the bits/key rate are sticky
    from the first commit that sets them; merge-heavy tables trade
    sidecar bytes for a lower rate (the useful probe-set bound
    q <~ 1/fpr moves linearly in bits/key). That is the pruning
    complement for keys the table is NOT clustered on: zone RANGES all
    overlap there, but membership filters still skip every file that
    cannot contain a probed key, which is what keeps ``merge_into`` /
    ``delete_keys`` planning and key-IN point reads
    (``key_membership_pruned``) O(touched) instead of O(table). Sticky
    like ``stats_cols``; every later commit path (merge/compact/
    optimize/zorder) filters its new files automatically."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if txn_id is not None:
        seen = committed_txn(root, txn_id)
        if seen is not None:
            return seen
    current = table_version(root)
    if mode == "append" and current:
        _check_schema_compatible(df, _load_manifest_raw(root, current))
    commit_dir = os.path.join(
        root, _DATA, f"c{current + 1:08d}-{uuid.uuid4().hex[:8]}"
    )
    df.write.parquet(commit_dir)
    new_files = _list_parquet(commit_dir)
    prev_manifest = read_manifest(root, current) if current else {}
    prev = [os.path.join(root, f) for f in prev_manifest.get("files", [])]
    cols = list(stats_cols or prev_manifest.get("stats_cols", []))
    stats = dict(prev_manifest.get("stats", {}))
    if cols:
        stats.update(_collect_stats(root, new_files, cols))
    if mode == "append":
        return _commit(
            root, prev + new_files, new_files, [], "append", txn_id,
            stats=stats, stats_cols=cols,
            dvs=prev_manifest.get("dvs", []),
            dv_key=prev_manifest.get("dv_key", []),
            kf_cols=key_filter_cols,
            kf_bits=key_filter_bits,
            anchor_min=anchor_parquet_min,
        )
    return _commit(
        root, new_files, new_files, prev, "overwrite", txn_id,
        stats=stats, stats_cols=cols, expected_version=current,
        kf_cols=key_filter_cols,
        kf_bits=key_filter_bits,
        anchor_min=anchor_parquet_min,
    )


def _schema_of(manifest: dict):
    """The manifest-recorded table schema as a StructType, or None when
    the table predates/never used schema evolution (readers then infer
    from the files, the original behavior)."""
    if not manifest.get("schema"):
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(manifest["schema"])


def _check_schema_compatible(df: DataFrame, manifest: dict) -> None:
    """Append-time gate on evolved tables: every appended column must
    exist in the recorded schema with the SAME type (incompatible type
    changes are refused — a retype needs a rewrite, not an append), and
    unknown columns need an ``evolve_table_schema`` commit first.
    Appends may OMIT evolved columns; reads backfill them as NULL."""
    recorded = manifest.get("schema")
    if not recorded:
        return
    rec = {f["name"]: f["type"] for f in recorded["fields"]}
    for f in json.loads(df.schema.json())["fields"]:
        if f["name"] not in rec:
            raise ValueError(
                f"column {f['name']!r} is not in the table schema; "
                "commit it with evolve_table_schema first"
            )
        if f["type"] != rec[f["name"]]:
            raise ValueError(
                f"incompatible type change for column {f['name']!r}: "
                f"table has {rec[f['name']]!r}, append has {f['type']!r} "
                "(retypes need a rewrite, not schema evolution)"
            )


def evolve_table_schema(
    spark: SparkSession, root: str, add_cols: dict[str, str]
) -> int:
    """ALTER TABLE ADD COLUMNS as a METADATA-ONLY commit (op
    ``evolve``): the new nullable columns are recorded in the manifest
    schema, no data file moves, and every subsequent read plans with
    the recorded schema so pre-evolution files backfill the new columns
    as NULL — the additive schema evolution the public formats
    implement in the metadata layer (Delta/Iceberg ADD COLUMN is a
    commit, never a rewrite; at 100 TB that is the only affordable
    kind). Existing columns are refused (renames/retypes are rewrites
    by design); the change feed reads an evolve commit as silence.
    ``add_cols`` maps name -> DDL type string (e.g. ``{"seg":
    "string"}``). Returns the committed version."""
    version = table_version(root)
    if version == 0:
        raise ValueError(f"evolve_table_schema target {root} does not exist")
    manifest = read_manifest(root, version)
    cur = _schema_of(manifest)
    if cur is None:
        # first evolution: pin the inferred snapshot schema as the base
        cur = spark.read.parquet(
            *[os.path.join(root, f) for f in manifest["files"]]
        ).schema
    from pyspark.sql.types import StructType

    names = set(cur.fieldNames())
    new = cur
    for name, dtype in add_cols.items():
        if name in names:
            raise ValueError(
                f"column {name!r} already exists; type changes and "
                "renames need a rewrite, not schema evolution"
            )
        # fromDDL accepts the SQL type vocabulary ("bigint", "string",
        # "array<double>", ...) — StructType.add alone only parses the
        # narrower JSON type names
        (field,) = StructType.fromDDL(f"`{name}` {dtype}").fields
        new = new.add(field.name, field.dataType, True)
    return _commit(
        root,
        [os.path.join(root, f) for f in manifest["files"]],
        [],
        [],
        "evolve",
        expected_version=version,
        stats=manifest.get("stats", {}),
        stats_cols=manifest.get("stats_cols", []),
        dvs=manifest.get("dvs", []),
        dv_key=manifest.get("dv_key", []),
        schema=json.loads(new.json()),
    )


def pruned_files(
    root: str, version: int, col, lo=None, hi=None
) -> tuple[list[str], list[str]]:
    """Split version's file list into (kept, skipped) for the predicate
    ``col BETWEEN lo AND hi`` — or, when ``col`` is a LIST of
    ``(col, lo, hi)`` triples, for their CONJUNCTION (a file survives
    only if every predicate's range intersects its zone map; pruning
    power multiplies when the columns co-cluster, e.g. an id and the
    event time it correlates with). Driver-side metadata only —
    O(files x predicates) comparisons against the already-loaded
    manifest, the planning step the public formats run before any task
    launches. Files without a zone map for a column are kept by that
    predicate (conservative); a ``None`` bound is open-ended (treated
    as -inf/+inf), so ``(col, lo, None)`` means ``col >= lo``."""
    preds = col if isinstance(col, list) else [(col, lo, hi)]
    manifest = read_manifest(root, version, need=("stats",))
    stats = manifest.get("stats", {})
    kept, skipped = [], []
    for f in manifest["files"]:
        zones = stats.get(f, {})
        dead = any(
            zones.get(c) is not None
            and (
                (plo is not None and zones[c][1] < plo)
                or (phi is not None and zones[c][0] > phi)
            )
            for c, plo, phi in preds
        )
        (skipped if dead else kept).append(f)
    return kept, skipped


def _read_with_dvs(
    spark: SparkSession,
    root: str,
    files: list[str],
    dvs: list[str],
    dv_key: list[str],
    schema=None,
    fv: dict | None = None,
    dvv: dict | None = None,
) -> DataFrame:
    """Read ``files`` with deletion vectors applied PER-FILE-SCOPE: a
    vector tombstones only rows in files committed strictly before it,
    so a key re-inserted AFTER its delete stays visible — the
    file-scoped merge-on-read contract the public formats implement
    with per-file DV pointers. ``fv``/``dvv`` are the manifest's
    recorded file->committed-version maps (pass the maps of the
    manifest the FILES belong to); they are exact even when an append
    lost several manifest races and landed above an interleaved delete.
    Files absent from the maps (pre-map manifests) fall back to the
    path-derived ``_commit_of`` vintage, the conservative over-delete
    the maps exist to remove. Files sharing the same applicable DV
    suffix read as one scan, so a table with one delete commit and no
    later appends plans exactly the single anti-join it always did."""
    fv = fv or {}
    dvv = dvv or {}

    def _v_dv(d: str) -> int:
        return dvv.get(d, _commit_of(d))

    dvs_sorted = sorted(dvs, key=_v_dv)
    ws = [_v_dv(d) for d in dvs_sorted]
    groups: dict[int, list[str]] = {}
    for f in files:
        # applicable DVs = the suffix with vintage > the file's vintage
        idx = bisect.bisect_right(ws, fv.get(f, _commit_of(f)))
        groups.setdefault(idx, []).append(f)
    out: DataFrame | None = None
    for idx in sorted(groups):
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        part = reader.parquet(*[os.path.join(root, f) for f in groups[idx]])
        if dvs_sorted[idx:]:
            # no broadcast hint: Spark's size estimate (file-backed)
            # picks broadcast while the DV is small and falls back to a
            # shuffled anti-join if delete debt grows past the
            # threshold — compact_table is the cure, not an OOM'd hint
            tombstones = spark.read.parquet(
                *[os.path.join(root, d) for d in dvs_sorted[idx:]]
            )
            part = part.join(tombstones, on=dv_key, how="left_anti")
        out = part if out is None else out.unionByName(part)
    return out


def read_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    prune: tuple | None = None,
    keys_in: tuple | None = None,
    schema=None,
) -> DataFrame:
    """Scan the table as of ``version`` (default: latest). Plans directly
    from the manifest's file list — no directory listing, and an empty
    snapshot is an error (there is nothing to infer a schema from).
    Schema evolution is the metadata-only ``evolve`` commit: its
    manifest-recorded schema makes older files read the added columns
    as NULL.

    ``prune=(col, lo, hi)`` — or a LIST of such triples for a
    conjunction — plans only the files whose zone maps intersect every
    range and applies the row-level BETWEEN residuals on top (zone maps
    are file-granular; parquet's own row-group stats then prune within
    the kept files). An empty kept list returns an empty frame with the
    snapshot's schema.

    When the snapshot carries deletion vectors (see ``delete_keys``),
    the read anti-joins them — merge-on-read, scoped per file so a
    vector only tombstones rows committed before it (a key re-inserted
    by a later append stays visible; see ``_read_with_dvs``).

    ``keys_in=(col, [v1, v2, ...])`` is the POINT-LOOKUP plan: files
    are additionally pruned by their key-membership filters
    (``key_membership_pruned`` — driver-side metadata, zero data IO;
    the table must have been written with ``key_filter_cols``) and the
    ``col IN (...)`` residual applies on top. On an UNCLUSTERED key
    this reads the handful of files that can contain the values
    instead of the whole snapshot (zone ranges all overlap there);
    composes with ``prune``. Values are a driver-side list — the
    bounded point-lookup shape; for a large distributed key set use
    the merge-style planning (``_touched_by_keys``) instead.

    ``schema`` is the files' schema when the caller already holds it
    (e.g. it wrote them from a frame it still has): planning then skips
    Spark's schema-inference job. A manifest-recorded schema wins."""
    if version is None:
        version = table_version(root)
    # LAZY: the scan plans from files/dvs/fv/dvv + schema alone; the
    # heavy stats/kf maps hydrate only inside pruned_files /
    # key_membership_pruned when the caller asks for pruning (~ms vs
    # ~2.3 s cold at 10^5 files — SCALE.md anchor_curve, round 11)
    manifest = read_manifest(root, version, need=())
    files = manifest["files"]
    if not files:
        raise ValueError(f"version {version} of {root} is empty")
    preds = (
        None
        if prune is None
        else (prune if isinstance(prune, list) else [prune])
    )
    if preds is not None:
        kept, _ = pruned_files(root, version, preds)
    else:
        kept = files
    if keys_in is not None:
        k_col, k_vals = keys_in
        # pass the zone-pruned list as candidates: the membership
        # stage then probes ONLY zone-admitted files, and a small
        # candidate set over a pointer anchor decodes kf per-cell
        # (round 12) instead of paying the full-column decode
        kept, _skipped = key_membership_pruned(
            root, version, k_col, list(k_vals), candidates=kept
        )
    sch = _schema_of(manifest) or schema
    reader = spark.read
    if sch is not None:
        # a known schema skips inference; on an evolved table the
        # manifest-recorded one makes pre-evolution files backfill the
        # added columns as NULL
        reader = reader.schema(sch)
    if not kept:
        # predicate excluded every file; keep the schema contract
        df = (
            reader.parquet(os.path.join(root, files[0]))
            .where(F.lit(False))
        )
    elif manifest.get("dvs"):
        df = _read_with_dvs(
            spark, root, kept, manifest["dvs"], manifest["dv_key"],
            schema=sch, fv=manifest.get("fv"), dvv=manifest.get("dvv"),
        )
    else:
        df = reader.parquet(*[os.path.join(root, f) for f in kept])
    if preds is not None:
        for c, plo, phi in preds:
            if plo is not None:
                df = df.where(F.col(c) >= F.lit(plo))
            if phi is not None:
                df = df.where(F.col(c) <= F.lit(phi))
    if keys_in is not None:
        # the row-level residual: membership filters are file-granular
        # and admit false positives; IN is the truth
        df = df.where(F.col(keys_in[0]).isin(list(keys_in[1])))
    return df


def start_versioned_sink(
    stream_df: DataFrame, root: str, checkpoint: str, query_name: str | None = None
):
    """Structured-Streaming sink INTO the versioned table with
    exactly-once semantics: each micro-batch commits as one ``append``
    version whose ``txn_id`` is (streaming query id, batch id). The
    query id is read from the CHECKPOINT's metadata file, so a
    crashed-and-retried batch (same checkpoint => same query id and
    batch id) finds its txn already committed and no-ops, while a fresh
    checkpoint gets a new query id and can never collide with an old
    run's txns — the transactional-writer discipline the public
    log-structured formats document. Downstream consumers get atomic,
    CDC-readable versions (``incremental_read``) instead of the raw
    file litter a parquet file sink leaves. Returns the started query;
    callers own ``awaitTermination``."""

    def _query_id() -> str:
        # written by the engine at query start, stable across restarts
        # on the same checkpoint
        with open(os.path.join(checkpoint, "metadata")) as f:
            return json.load(f)["id"]

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        write_version(
            batch_df.sparkSession,
            batch_df,
            root,
            txn_id=f"{_query_id()}:{batch_id}",
        )

    writer = stream_df.writeStream.foreachBatch(absorb).option(
        "checkpointLocation", checkpoint
    )
    if query_name:
        writer = writer.queryName(query_name)
    return writer.trigger(availableNow=True).start()


# maintenance commits that REWRITE files without changing the logical
# row set an append-only consumer sees: optimize/zorder re-bin or
# re-cluster live rows, compact folds deletion vectors whose delete
# commits are separately visible (and separately refused/emitted).
# Their `added` files carry no rows that were APPENDED in the range,
# so an incremental consumer skips them — the original appends' files
# are immutable on disk and keep reading correctly even
# after a rewrite removed them from the current snapshot.
_REWRITE_OPS = ("optimize", "zorder", "compact")


def incremental_read(
    spark: SparkSession, root: str, from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CDC for append pipelines: the rows ADDED by commits in
    ``(from_version, to_version]`` — exactly the new files, never a
    rescan of the base.

    Maintenance commits no longer break the consumer (they used to
    raise for every non-append op — and at 100 TB, OPTIMIZE runs
    weekly, so an incremental pipeline hit that wall in week two):

    - ``evolve`` commits add no files and pass through; when the range
      crosses one, the read plans with the end manifest's schema so
      pre-evolution appends backfill the added columns as NULL.
    - PHYSICAL REWRITES (``optimize``/``zorder``/``compact``) pass
      through: their added files hold re-binned copies of rows that
      were NOT appended in the range, so skipping them keeps the result
      exactly "the rows appended in the range" — the appends' own files
      are immutable and stay readable even after the rewrite drops them
      from the snapshot.
    - ROW-CHANGING commits (``merge``/``overwrite``/``rollback``/
      ``delete``) cannot be represented as a file union. They raise;
      such a range is consumed with ``read_changes``, the row-level
      change feed (rows + ``_change_type`` + ``_commit_version``)."""
    if to_version is None:
        to_version = table_version(root)
    added: list[str] = []
    for v in range(from_version + 1, to_version + 1):
        m = _load_manifest_raw(root, v)  # op/added only: skip hydration
        if "anchor_ar_counts" in m:
            # a pointer anchor folds its added/removed lists into the
            # sidecar (round 11); restore just the lists — need=()
            # skips the heavy map decode this path never wanted
            m = _anchor_expand(root, m, need=())
        if m["op"] == "evolve" or m["op"] in _REWRITE_OPS:
            continue  # no rows appended or changed
        if m["op"] != "append":
            raise ValueError(
                f"incremental_read crosses non-append commit v{v} "
                f"({m['op']}); consume the range with read_changes, "
                "the row-level change feed"
            )
        added.extend(m["added"])
    if not added:
        raise ValueError(
            f"no files added in ({from_version}, {to_version}] of {root}"
        )
    reader = spark.read
    sch = _schema_of(_load_manifest_raw(root, to_version))
    if sch is not None:
        reader = reader.schema(sch)
    return reader.parquet(*[os.path.join(root, f) for f in added])


def rollback(root: str, to_version: int) -> int:
    """Revert the table to ``to_version``'s snapshot as a NEW commit.
    Pure metadata — the file list is copied, no data moves, and the
    rolled-back versions remain time-travel-readable."""
    current_v = table_version(root)
    target = read_manifest(root, to_version)
    current = read_manifest(root, current_v)
    files = [os.path.join(root, f) for f in target["files"]]
    added = sorted(set(target["files"]) - set(current["files"]))
    removed = sorted(set(current["files"]) - set(target["files"]))
    return _commit(
        root,
        files,
        [os.path.join(root, f) for f in added],
        [os.path.join(root, f) for f in removed],
        f"rollback:{to_version}",
        expected_version=current_v,
        stats=target.get("stats", {}),
        stats_cols=target.get("stats_cols", []),
        dvs=target.get("dvs", []),
        dv_key=target.get("dv_key", []),
        schema=target.get("schema"),
        # files re-entering the snapshot keep the version they REALLY
        # committed at, so DV scoping stays exact across a rollback.
        # The hint must cover EVERY target file with its EFFECTIVE
        # version (recorded exception or path vintage): the stored map
        # is exceptions-only, and an uncovered re-entering file would
        # otherwise be mis-stamped with the rollback's own version by
        # the added->claimed rule. Same for key filters (hint beats a
        # rebuild — no data reads on rollback).
        file_versions={
            p: target.get("fv", {}).get(p, _commit_of(p))
            for p in target["files"]
        },
        dv_versions={
            d: target.get("dvv", {}).get(d, _commit_of(d))
            for d in target.get("dvs", [])
        },
        kf_cols=target.get("kf_cols"),
        key_filters=target.get("kf"),
        file_rows=target.get("rows"),
    )


def _kf_risky_mask(vals):
    """Boolean mask of probe values that must ADMIT EVERY FILTER
    instead of hashing — float-carried integral values past 2^53 whose
    exact origin (int64 rounded at Arrow->pandas promotion, or a float
    that was always this value) the probe cannot distinguish; hashing
    the possibly-rounded value risks a false negative
    (see ``_kf_value_exact``)."""
    import numpy as np

    arr = np.asarray(vals)
    if np.issubdtype(arr.dtype, np.floating):
        with np.errstate(invalid="ignore"):
            return (
                np.isfinite(arr)
                & (np.abs(arr) >= _KF_FLOAT_EXACT)
                & (arr == np.floor(arr))
            )
    if arr.dtype == object:
        return np.array(
            [not _kf_value_exact(v) for v in arr], dtype=bool
        )
    return np.zeros(len(arr), dtype=bool)


def _kf_membership_admitted(
    spark: SparkSession,
    root: str,
    kf: dict,
    keys_d: DataFrame,
    col: str,
    filtered: list[str],
) -> set[str]:
    """Files among ``filtered`` (all carrying a membership filter for
    ``col``) whose Bloom filter admits at least one probe key — the
    distributed half of ``_touched_by_keys``. At or below
    ``_KF_DRIVER_LOAD_MAX`` candidates the bitmaps load on the driver
    and ride the UDF closure (cheaper than a broadcast round-trip for
    a handful of files). PAST it the driver never reads a sidecar:
    inline bitmaps decode from the manifest (already driver-resident
    metadata) but sidecar filters ship as PATHS inside one
    ``sparkContext.broadcast`` — one transfer per executor, torrent
    distribution, not a per-task closure pickle — and executors load
    (and cache, ``_kf_exec_raw``) the bytes themselves, so planning
    stays flat in candidate count at the thousands-of-files scale a
    100 TB unclustered-key merge admits. When the candidates' TOTAL
    bitmap bytes exceed ``_KF_PROBE_CHUNK_BYTES`` the probe runs in
    CHUNKS (one job per chunk, admitted sets unioned) so each job's
    per-executor working set fits the sidecar cache instead of
    evicting and re-reading inside a single pass."""
    import base64

    from pyspark.sql.types import ArrayType, IntegerType

    if len(filtered) <= _KF_DRIVER_LOAD_MAX:
        raws = _kf_raw_many(root, [(f, kf[f][col]) for f in filtered])
        specs = [
            (kf[f][col]["m"], kf[f][col]["k"], raw, None)
            for f, raw in zip(filtered, raws)
        ]
    else:
        specs = []
        for f in filtered:
            filt = kf[f][col]
            if "b" in filt:
                specs.append(
                    (filt["m"], filt["k"], base64.b64decode(filt["b"]),
                     None)
                )
            else:
                specs.append(
                    (filt["m"], filt["k"], None,
                     os.path.join(root, os.path.dirname(f), filt["p"]))
                )
    # chunk by cumulative bitmap bytes (m/8 each, known from metadata)
    chunks: list[tuple[int, list]] = []
    cur: list = []
    cur_bytes = base = 0
    for spec in specs:
        if cur and cur_bytes + spec[0] // 8 > _KF_PROBE_CHUNK_BYTES:
            chunks.append((base, cur))
            base += len(cur)
            cur, cur_bytes = [], 0
        cur.append(spec)
        cur_bytes += spec[0] // 8
    if cur:
        chunks.append((base, cur))
    persisted = False
    if len(chunks) > 1:
        # every chunk's job re-consumes the distinct keys
        keys_d = keys_d.persist()
        persisted = True

    def _probe_chunk(chunk_specs: list) -> set[int]:
        bspecs = spark.sparkContext.broadcast(chunk_specs)

        @F.pandas_udf(ArrayType(IntegerType()))
        def _kf_probe(col_keys: pd.Series) -> pd.Series:
            # batch-vectorized: hash the whole Arrow batch once, then
            # per filter test all keys' k positions with numpy gathers
            # — k x |filters| array passes instead of a Python loop
            # per (key, filter, hash)
            import numpy as np

            specs_l = bspecs.value
            n = len(col_keys)
            if n == 0:
                return pd.Series([], dtype=object)
            vals = col_keys.to_numpy()
            h1v, h2v = _kf_hash_batch(vals)
            risky = _kf_risky_mask(vals)
            hits: list[list[int]] = [[] for _ in range(n)]
            for i, (m, k, inline, path) in enumerate(specs_l):
                bitsarr = np.frombuffer(
                    _kf_exec_raw(path, inline), dtype=np.uint8
                )
                ok = np.ones(n, dtype=bool)
                for j in range(k):
                    pos = (h1v + np.uint64(j) * h2v) % np.uint64(m)
                    byte = bitsarr[
                        (pos >> np.uint64(3)).astype(np.int64)
                    ]
                    mask = (
                        np.uint64(1) << (pos & np.uint64(7))
                    ).astype(np.uint8)
                    ok &= (byte & mask) != 0
                    if not (ok.any() or risky.any()):
                        break
                ok |= risky  # precision-suspect keys admit everything
                for idx in np.nonzero(ok)[0]:
                    hits[int(idx)].append(i)
            return pd.Series(hits)

        try:
            return {
                r["__i"]
                for r in keys_d.select(
                    F.explode(_kf_probe(F.col("__k"))).alias("__i")
                )
                .distinct()
                .collect()
            }
        finally:
            bspecs.unpersist(blocking=False)

    try:
        admitted: set[str] = set()
        for chunk_base, chunk_specs in chunks:
            for i in _probe_chunk(chunk_specs):
                admitted.add(filtered[chunk_base + i])
    finally:
        if persisted:
            keys_d.unpersist()
    return admitted


def _touched_by_keys(
    spark: SparkSession,
    root: str,
    manifest: dict,
    keys: DataFrame,
    cols: str | list[str],
) -> tuple[list[str], list[str]]:
    """Split the snapshot's files into (touched, untouched) for a set
    of key tuples: a file is touched iff EVERY key column with pruning
    metadata admits it — its zone map for the column intersects at
    least one probed value (files without a zone map pass the zone
    stage — conservative) AND, when the table carries key-membership
    filters for the column, its Bloom filter admits at least one
    value. Columns are INTERSECTED (round 9): a compound-key merge on
    (tenant_id, doc_id) skips a file when no probed doc_id appears in
    it even though the low-cardinality tenant_id admits everything —
    sound because a matching row needs every key column's value
    present in the file, so one empty column intersection rules the
    whole file out. Per column: the zone stage is one Spark job
    (distinct non-null keys range-join the BROADCAST file-range
    table); the membership stage is a map-side probe
    (``_kf_membership_admitted`` — in-closure bitmaps for a handful of
    candidates, broadcast paths + executor-side loads past
    ``_KF_DRIVER_LOAD_MAX``). The driver never holds the key set, only
    file ids, and never reads a sidecar past the threshold.

    NULL probe keys are dropped before either stage: NULL never
    equality-matches (a null-keyed source row can only INSERT), and
    keeping them out of the probe batch also keeps Arrow from
    promoting an int64 key batch to float64 — the promotion that
    rounds keys past 2^53 and broke the no-false-negative contract
    (ADVICE r8). Float-typed keys that are integral and >= 2^53 admit
    every filter instead of hashing (``_kf_risky_mask``), and NaN keys
    (which DO join-match NaN in Spark) disable zone pruning for their
    column — parquet footer stats exclude NaN, so a NaN-keyed row is
    invisible to the range join — while the membership stage still
    probes them (the build hashes NaN like NULL)."""
    if isinstance(cols, str):
        cols = [cols]
    stats = manifest.get("stats", {})
    kf = manifest.get("kf", {})
    files = manifest["files"]
    candidates = list(files)
    persisted: list[DataFrame] = []
    try:
        for col in cols:
            if not candidates:
                break
            zoned = [
                (f, stats[f][col][0], stats[f][col][1])
                for f in candidates
                if stats.get(f, {}).get(col) is not None
            ]
            filtered = [f for f in candidates if kf.get(f, {}).get(col)]
            if not zoned and not filtered:
                continue  # no pruning metadata on this column
            keys_d = (
                keys.select(F.col(col).alias("__k"))
                .where(F.col("__k").isNotNull())
                .distinct()
            )
            if zoned and filtered:
                # both stages consume the distinct keys; persist so the
                # source pipeline runs once (unpersisted in finally —
                # a probe failure must not leak executor storage)
                keys_d = keys_d.persist()
                persisted.append(keys_d)
            admitted = set(candidates)
            if zoned:
                dt = keys.schema[col].dataType.typeName()
                if dt in ("float", "double") and not keys_d.where(
                    F.isnan("__k")
                ).isEmpty():
                    zoned = []  # NaN keys: zone stage can't see them
            if zoned:
                ranges = spark.createDataFrame(
                    zoned, ["__file", "__lo", "__hi"]
                )
                hits = (
                    keys_d
                    .join(
                        F.broadcast(ranges),
                        (F.col("__k") >= F.col("__lo"))
                        & (F.col("__k") <= F.col("__hi")),
                    )
                    .select("__file")
                    .distinct()
                    .collect()
                )
                zone_hit = {r["__file"] for r in hits}
                zoned_files = {z[0] for z in zoned}
                admitted = {
                    f for f in admitted
                    if f not in zoned_files or f in zone_hit
                }
            probe = [f for f in filtered if f in admitted]
            if probe:
                member_hit = _kf_membership_admitted(
                    spark, root, kf, keys_d, col, probe
                )
                probe_set = set(probe)
                admitted = {
                    f for f in admitted
                    if f not in probe_set or f in member_hit
                }
            candidates = [f for f in candidates if f in admitted]
    finally:
        for d in persisted:
            d.unpersist()
    touched_set = set(candidates)
    return (
        [f for f in files if f in touched_set],
        [f for f in files if f not in touched_set],
    )


def merge_into(
    spark: SparkSession,
    source: DataFrame,
    root: str,
    key_cols: list[str],
    delete_col: str | None = None,
    txn_id: str | None = None,
) -> int:
    """Copy-on-write MERGE INTO the versioned table: matched target rows
    are replaced by their source row (update-all), source rows with no
    match insert (insert-all), and — when ``delete_col`` names a boolean
    source column — matched rows flagged there are removed. One
    full-outer shuffle join decides all three cases.

    The 100 TB point is WHICH files the merge rewrites: with zone maps
    and/or key-membership filters on the key columns
    (``write_version(stats_cols=... / key_filter_cols=...)``), only
    files whose key ranges/filters the source actually touches are
    read and rewritten — a 1%-of-keys source against a key-clustered
    table rewrites ~1% of files; every
    other file carries into the new snapshot BY REFERENCE (same path
    in the manifest, no I/O). Pruning INTERSECTS across the key
    columns (``_touched_by_keys``), so a compound key with a
    low-cardinality leading column still prunes on the selective one.
    Without stats the merge degrades to a full rewrite, still
    correct. Mirrors the copy-on-write merge the public log-structured
    formats document; the merge-on-read alternative for pure deletes is
    ``delete_keys``.

    ``txn_id`` makes the merge IDEMPOTENT like ``write_version``'s: a
    retried merge command (orchestrator replay, crashed driver) finds
    its txn already committed and no-ops — required for exactly-once
    CDC command application, since a merge re-run would double-apply
    its updates where a re-appended file would merely duplicate."""
    if txn_id is not None:
        seen = committed_txn(root, txn_id)
        if seen is not None:
            return seen
    version = table_version(root)
    if version == 0:
        raise ValueError(f"merge_into target {root} does not exist")
    manifest = read_manifest(root, version)
    if manifest.get("dvs"):
        raise ValueError(
            "merge_into on a table with outstanding deletion vectors; "
            "run compact_table first so carried tombstones cannot "
            "shadow freshly merged rows"
        )
    # every key column with pruning metadata intersects (round 9): a
    # (low-cardinality, high-cardinality) compound key prunes on the
    # selective column even when the leading one admits all
    touched, untouched = _touched_by_keys(
        spark, root, manifest, source.select(*key_cols), key_cols
    )
    data_cols = None
    src_cols = [c for c in source.columns if c != delete_col]
    if touched:
        reader = spark.read
        sch = _schema_of(manifest)
        if sch is not None:
            # evolved table: NULL-backfill pre-evolution files so the
            # source (which carries the full schema) matches
            reader = reader.schema(sch)
        base = reader.parquet(*[os.path.join(root, f) for f in touched])
        data_cols = [c for c in base.columns if c not in key_cols]
        if sorted(src_cols) != sorted(base.columns):
            raise ValueError(
                f"source columns {sorted(src_cols)} must match target "
                f"{sorted(base.columns)} (update-all/insert-all merge)"
            )
        renamed = source.select(
            *key_cols,
            *[F.col(c).alias(f"__s_{c}") for c in data_cols],
            (
                F.col(delete_col) if delete_col else F.lit(False)
            ).alias("__s_del"),
            F.lit(True).alias("__s"),
        )
        joined = base.join(renamed, key_cols, "full_outer")
        merged = joined.where(
            ~(F.coalesce(F.col("__s"), F.lit(False)) & F.col("__s_del"))
        ).select(
            *key_cols,
            *[
                F.when(F.col("__s"), F.col(f"__s_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in data_cols
            ],
        )
    else:
        # no file admits any source key: the merge is pure inserts
        merged = source.where(
            ~F.col(delete_col) if delete_col else F.lit(True)
        ).select(*src_cols)
    commit_dir = os.path.join(
        root, _DATA, f"c{version + 1:08d}-{uuid.uuid4().hex[:8]}"
    )
    merged.write.parquet(commit_dir)
    new_files = _list_parquet(commit_dir)
    cols = manifest.get("stats_cols", [])
    stats = dict(manifest.get("stats", {}))
    if cols:
        stats.update(_collect_stats(root, new_files, cols))
    return _commit(
        root,
        [os.path.join(root, f) for f in untouched] + new_files,
        new_files,
        [os.path.join(root, f) for f in touched],
        "merge",
        txn_id=txn_id,
        expected_version=version,
        stats=stats,
        stats_cols=cols,
    )


def delete_keys(
    spark: SparkSession, root: str, keys: DataFrame,
    txn_id: str | None = None,
) -> int:
    """Merge-on-read DELETE: commits the keys as a DELETION-VECTOR
    sidecar instead of rewriting any data file — the commit is
    O(|keys|) regardless of table size, the right-to-be-forgotten
    operation a 100 TB table cannot afford as copy-on-write. Reads
    anti-join the vectors (``read_version``); ``compact_table`` folds
    the debt into a rewrite of only the affected files. Key-based
    tombstones (the ir10 discipline on the table format) rather than
    positional bitmaps: plain parquet
    needs no stable row ids, and the anti-join broadcasts while the
    debt is small. Vectors are PER-FILE SCOPED on read (via the
    manifest's recorded ``fv``/``dvv`` commit-version maps, exact even
    when an append lost manifest races; pre-map manifests fall back to
    the path vintage): a vector tombstones only rows committed
    before it, so appending a deleted key later RE-INSERTS it — reads,
    the change feed, and compaction all agree (``_read_with_dvs``).
    Repeated deletes append further vectors; deleting
    already-deleted keys is idempotent by construction; ``txn_id``
    additionally short-circuits a RETRIED delete command entirely (no
    duplicate vector files)."""
    if txn_id is not None:
        seen = committed_txn(root, txn_id)
        if seen is not None:
            return seen
    version = table_version(root)
    if version == 0:
        raise ValueError(f"delete_keys target {root} does not exist")
    manifest = read_manifest(root, version)
    key_cols = keys.columns
    if manifest.get("dvs") and manifest.get("dv_key") != key_cols:
        raise ValueError(
            f"deletion-vector key {manifest['dv_key']} != {key_cols}"
        )
    dv_dir = os.path.join(
        root, _DV, f"c{version + 1:08d}-{uuid.uuid4().hex[:8]}"
    )
    keys.distinct().write.parquet(dv_dir)
    return _commit(
        root,
        [os.path.join(root, f) for f in manifest["files"]],
        [],
        [],
        "delete",
        txn_id=txn_id,
        expected_version=version,
        stats=manifest.get("stats", {}),
        stats_cols=manifest.get("stats_cols", []),
        dvs=manifest.get("dvs", [])
        + [os.path.relpath(f, root) for f in _list_parquet(dv_dir)],
        dv_key=key_cols,
    )


def compact_table(spark: SparkSession, root: str) -> int:
    """Fold outstanding deletion vectors into the data: rewrite ONLY the
    files whose zone map admits a tombstoned key (unzoned files are
    rewritten conservatively), drop the vectors, and commit. Reads after
    compaction pay no anti-join; files untouched by any tombstone carry
    by reference. No-op (returns the current version) when the table
    carries no delete debt — schedule it when the vector size or the
    deleted fraction crosses the deploy's threshold, the maintenance
    cadence the public formats document for merge-on-read."""
    version = table_version(root)
    manifest = read_manifest(root, version)
    if not manifest.get("dvs"):
        return version
    tombstones = spark.read.parquet(
        *[os.path.join(root, f) for f in manifest["dvs"]]
    )
    key_cols = manifest["dv_key"]
    touched, untouched = _touched_by_keys(
        spark, root, manifest, tombstones, key_cols
    )
    new_files: list[str] = []
    if touched:
        # per-file DV scoping (matches read_version): a vector folds
        # only into files committed before it, so a key re-inserted
        # after its delete survives the compaction. Evolved tables
        # rewrite with the recorded schema so a rewrite straddling the
        # evolution boundary cannot drop the added columns.
        kept_rows = _read_with_dvs(
            spark, root, touched, manifest["dvs"], key_cols,
            schema=_schema_of(manifest),
            fv=manifest.get("fv"), dvv=manifest.get("dvv"),
        )
        commit_dir = os.path.join(
            root, _DATA, f"c{version + 1:08d}-{uuid.uuid4().hex[:8]}"
        )
        kept_rows.write.parquet(commit_dir)
        new_files = _list_parquet(commit_dir)
    cols = manifest.get("stats_cols", [])
    stats = dict(manifest.get("stats", {}))
    if cols and new_files:
        stats.update(_collect_stats(root, new_files, cols))
    return _commit(
        root,
        [os.path.join(root, f) for f in untouched] + new_files,
        new_files,
        [os.path.join(root, f) for f in touched],
        "compact",
        expected_version=version,
        stats=stats,
        stats_cols=cols,
    )


def refresh_aggregate_mv(
    spark: SparkSession,
    base_root: str,
    mv_root: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> int:
    """Incrementally maintain the materialized view
    ``SELECT group_cols, COUNT(*) AS n_rows, SUM(c) AS sum_<c>...``
    over an append-only versioned base table, consuming ONLY the
    file-level CDC since the last refresh: the base version last
    absorbed is stamped into the MV's own manifest (``txn_id =
    'mvref:<base_version>'``), so a refresh reads exactly the files
    appended after it (``incremental_read``), aggregates the delta, and
    folds it into the dimension-sized MV with one union + re-agg —
    count/sum are self-decomposable, avg/rates derive downstream. The
    MV commits as one overwrite version per refresh, so refreshes are
    atomic, time-travelable, and IDEMPOTENT (a retried refresh of the
    same base version finds its txn already committed and no-ops).

    At 100 TB this is the nightly-rollup contract: refresh cost tracks
    the DELTA (scan of new files + dimension-sized merge), never the
    base table; the tr01/st02 absorb discipline driven by table-format
    CDC instead of a stream. Raises (via ``incremental_read``) if the
    range crosses an overwrite/rollback commit — a replaced snapshot
    needs a full MV rebuild, silently absorbing it would double-count.
    Returns the MV version (unchanged when there is nothing new)."""
    base_v = table_version(base_root)
    if base_v == 0:
        raise ValueError(f"refresh_aggregate_mv: base {base_root} is empty")
    mv_v = table_version(mv_root)
    last = 0
    if mv_v:
        txn = _load_manifest_raw(mv_root, mv_v).get("txn_id") or ""
        if not txn.startswith("mvref:"):
            raise ValueError(
                f"{mv_root} v{mv_v} was not committed by refresh_aggregate_mv"
                f" (txn_id={txn!r})"
            )
        last = int(txn.split(":", 1)[1])
    if last >= base_v:
        return mv_v
    delta = incremental_read(spark, base_root, last, base_v)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
        F.sum(c).alias(f"sum_{c}") for c in sum_cols
    ]
    delta_agg = delta.groupBy(*group_cols).agg(*aggs)
    if mv_v:
        merged = (
            read_version(spark, mv_root)
            .unionByName(delta_agg)
            .groupBy(*group_cols)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
            )
        )
    else:
        merged = delta_agg
    return write_version(
        spark, merged, mv_root, mode="overwrite", txn_id=f"mvref:{base_v}"
    )


def optimize_table(
    spark: SparkSession,
    root: str,
    min_rows_per_file: int,
) -> int:
    """Small-file OPTIMIZE: bin-pack every data file holding fewer than
    ``min_rows_per_file`` rows (row counts read from parquet FOOTERS —
    metadata only) into ~``4 * min_rows_per_file``-row files; files
    already big enough carry into the new snapshot BY REFERENCE. When
    the table has zone maps, the rewritten rows are re-clustered with
    ``repartitionByRange`` on the first stats column so the new files'
    zone maps stay tight (coalescing mixed key ranges would otherwise
    widen them into never-prunable files) and re-statted. The
    maintenance op every streaming ingest needs — micro-batch commits
    land one small file each (st14), and a month of them turns every
    scan into a file-listing stall at 100 TB; io05 is the plain-
    directory sibling, this is the snapshot-isolated version (readers
    on older versions are untouched, the optimize is one atomic
    commit). Refuses tables with outstanding deletion vectors — run
    ``compact_table`` first so the rewrite folds the debt instead of
    copying doomed rows. No-op (current version) when nothing is small
    enough to justify a rewrite, or when only ONE small file exists
    (rewriting one file into one file is pure churn)."""
    import pyarrow.parquet as pq

    version = table_version(root)
    manifest = read_manifest(root, version)
    if manifest.get("dvs"):
        raise ValueError(
            "optimize_table on a table with outstanding deletion vectors; "
            "run compact_table first"
        )
    target_rows_per_file = max(min_rows_per_file * 4, 1)
    mrows = manifest.get("rows", {})
    rows_of = {
        # manifest row counts when recorded (round 10 — zero IO);
        # footer read only for pre-rows history
        f: mrows[f]
        if f in mrows
        else pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for f in manifest["files"]
    }
    small = [f for f in manifest["files"] if rows_of[f] < min_rows_per_file]
    big = [f for f in manifest["files"] if rows_of[f] >= min_rows_per_file]
    if len(small) <= 1:
        return version
    total = sum(rows_of[f] for f in small)
    n_out = max(1, -(-total // target_rows_per_file))
    reader = spark.read
    sch = _schema_of(manifest)
    if sch is not None:
        # evolved table: bin-pack with the recorded schema so small
        # files straddling the evolution boundary keep the added
        # columns (NULL-backfilled for pre-evolution rows)
        reader = reader.schema(sch)
    packed = reader.parquet(*[os.path.join(root, f) for f in small])
    cols = manifest.get("stats_cols", [])
    if cols:
        packed = packed.repartitionByRange(n_out, cols[0])
    else:
        packed = packed.repartition(n_out)
    commit_dir = os.path.join(
        root, _DATA, f"c{version + 1:08d}-{uuid.uuid4().hex[:8]}"
    )
    packed.write.parquet(commit_dir)
    new_files = _list_parquet(commit_dir)
    stats = dict(manifest.get("stats", {}))
    if cols:
        stats.update(_collect_stats(root, new_files, cols))
    return _commit(
        root,
        [os.path.join(root, f) for f in big] + new_files,
        new_files,
        [os.path.join(root, f) for f in small],
        "optimize",
        expected_version=version,
        stats=stats,
        stats_cols=cols,
    )


def table_history(root: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per commit, newest first —
    version, op, wall-clock ts (None for pre-round-7 manifests), txn_id,
    file counts and added/removed deltas, DV debt, and whether a schema
    is recorded. Driver-side metadata only (manifests are small JSON)."""
    out = []
    for v in range(table_version(root), 0, -1):
        # hydrated: file list may be folded; need=() — history reads
        # list lengths only, never the per-file maps
        m = read_manifest(root, v, need=())
        out.append(
            {
                "version": v,
                "op": m["op"],
                "ts": m.get("ts"),
                "txn_id": m.get("txn_id"),
                "n_files": len(m["files"]),
                "n_added": len(m.get("added", [])),
                "n_removed": len(m.get("removed", [])),
                "n_dvs": len(m.get("dvs", [])),
                "has_schema": bool(m.get("schema")),
            }
        )
    return out


def _last_zorder_version(root: str, version: int, cols: list[str]) -> int:
    """Latest commit <= ``version`` that is a zorder rewrite on
    exactly ``cols`` (the manifest records ``zorder_cols``), or 0 if
    there is none (the incremental path then rewrites everything, a
    full re-cluster)."""
    for v in range(version, 0, -1):
        m = _load_manifest_raw(root, v)  # op/zorder_cols only
        if m["op"] == "zorder" and m.get("zorder_cols") == list(cols):
            return v
    return 0


def zorder_table(
    spark: SparkSession,
    root: str,
    cols: list[str],
    bits: int = 8,
    target_files: int = 16,
    incremental: bool = False,
) -> int:
    """Z-ORDER OPTIMIZE: rewrite the snapshot re-clustered on the Morton
    interleave of ``cols`` (``sources/layout.zorder_value`` — pure
    column arithmetic, no UDF) and re-stat the zone maps for every
    clustering column. A single-column range cluster leaves the OTHER
    columns' per-file ranges spanning the whole domain (their zone maps
    prune nothing); the interleave gives every listed column locality,
    so multi-predicate conjunctions plan strictly fewer files — the
    Z-ORDER BY the public formats bolt onto OPTIMIZE, here as one
    atomic snapshot commit (readers on older versions untouched).
    Refuses outstanding deletion vectors (compact first); the change
    feed reads the rewrite as silence (same rows, new files). At
    100 TB: run it on the hot predicate pair, not every column —
    interleaving k columns spends the same bit budget k ways, so each
    added column widens every other column's effective buckets.

    ``incremental=True`` is the maintenance-cadence mode a 100 TB
    table actually runs: instead of re-Mortoning the world, it
    re-clusters ONLY the files committed since the last zorder on the
    SAME column list (found via the manifest's ``zorder_cols`` record
    and each file's ``fv`` committed version) — the append drift.
    Already-clustered files carry into the new snapshot BY REFERENCE,
    so the rewrite cost is O(delta), not O(table); the commit is the
    same atomic ``zorder`` op (change feed reads it as silence,
    concurrent writers conflict cleanly). No-op (current version) when
    no file was committed since the last zorder; that check is pure
    manifest metadata, so the call costs no data IO. The Morton bounds
    come from the rewrite set's own zone maps when every member has
    them (a metadata-only plan — no scan before the rewrite itself),
    falling back to one bounds scan of the rewrite set otherwise.
    ``target_files`` sizes the rewrite set's output; with no prior
    zorder on ``cols`` the incremental call degrades to the full
    rewrite."""
    from querysight_spark.sources.layout import zorder_value

    version = table_version(root)
    manifest = read_manifest(root, version)
    if manifest.get("dvs"):
        raise ValueError(
            "zorder_table on a table with outstanding deletion vectors; "
            "run compact_table first"
        )
    files = manifest["files"]
    stats = manifest.get("stats", {})
    if incremental:
        last_z = _last_zorder_version(root, version, cols)
        fv = manifest.get("fv", {})
        # committed after the last zorder on these columns
        rewrite = [f for f in files if fv.get(f, _commit_of(f)) > last_z]
        if not rewrite:
            return version
        rewrite_set = set(rewrite)
        untouched = [f for f in files if f not in rewrite_set]
    else:
        rewrite, untouched = list(files), []
    sch = _schema_of(manifest)
    reader = spark.read
    if sch is not None:
        reader = reader.schema(sch)
    df = reader.parquet(*[os.path.join(root, f) for f in rewrite])
    mins: list | None = []
    maxs: list | None = []
    for c in cols:
        zs = [stats[f][c] for f in rewrite if stats.get(f, {}).get(c)]
        if len(zs) != len(rewrite):
            mins = maxs = None  # some member unzoned: fall back to a scan
            break
        mins.append(min(z[0] for z in zs))
        maxs.append(max(z[1] for z in zs))
    if mins is None:
        row = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        ).collect()[0]
        mins = [row[f"lo_{c}"] for c in cols]
        maxs = [row[f"hi_{c}"] for c in cols]
    z = zorder_value(cols, mins, maxs, bits).alias("_z")
    clustered = (
        df.select("*", z)
        .repartitionByRange(target_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    commit_dir = os.path.join(
        root, _DATA, f"c{version + 1:08d}-{uuid.uuid4().hex[:8]}"
    )
    clustered.write.parquet(commit_dir)
    new_files = _list_parquet(commit_dir)
    # keep previously-statted columns prunable too: the rewrite stats
    # the UNION of the table's historical stats_cols and the zorder
    # cols, so a predicate on a formerly-clustered column still plans
    # from zone maps (looser after the re-cluster, but never blind)
    stat_cols = cols + [
        c for c in manifest.get("stats_cols", []) if c not in cols
    ]
    new_stats = {**stats, **_collect_stats(root, new_files, stat_cols)}
    return _commit(
        root,
        [os.path.join(root, f) for f in untouched] + new_files,
        new_files,
        [os.path.join(root, f) for f in rewrite],
        "zorder",
        expected_version=version,
        stats=new_stats,
        stats_cols=stat_cols,
        extra={"zorder_cols": list(cols)},
    )


def _kf_saturated(manifest: dict, max_density: float,
                  new_bits: int | None = None) -> list[str]:
    """Files whose stored filter ones-density exceeds ``max_density``
    AND whose filter a rebuild could actually improve (its bitmap is
    below the size a rebuild would allocate — a filter already at
    ``_KF_MAX_BITS`` can't grow, rebuilding it is pure churn). Pure
    manifest metadata: density ``d`` is recorded at build time, rows
    from the ``rows`` map (unknown rows -> assume improvable)."""
    bits = int(new_bits or manifest.get("kf_bits", 10))
    mrows = manifest.get("rows", {})
    out = []
    for p, cols in manifest.get("kf", {}).items():
        for filt in cols.values():
            if filt.get("d", 0.0) <= max_density:
                continue
            n = mrows.get(p)
            would_m = (
                min(_KF_MAX_BITS, bits * max(1, n))
                if n is not None
                else _KF_MAX_BITS
            )
            if would_m > filt["m"]:
                out.append(p)
                break
    return out


def rebuild_key_filters(
    spark: SparkSession,
    root: str,
    bits: int | None = None,
    max_density: float = 0.6,
) -> int:
    """Rebuild SATURATED key-membership filters as one metadata commit
    (VERDICT r10 ask #4). A filter's useful probe-set bound is
    q <~ 1/fpr and fpr ~= density^k, so merge-heavy tables whose
    filters fill up (old low-bits vintage, or files grown past the
    bitmap cap) silently lose membership pruning — SCALE.md's own
    saturation bound. This pass re-reads ONLY the key columns of the
    files whose stored density exceeds ``max_density`` (and that a
    rebuild can actually improve), builds fresh filters at ``bits``
    bits/key (default: bump the table's stored ``kf_bits`` to at least
    10), and commits — no data rows move, readers on older versions
    keep the old filters. No-op at the current version when nothing is
    saturated. The new ``bits`` becomes the table's sticky sizing for
    future commits."""
    version = table_version(root)
    if version == 0:
        return 0
    manifest = read_manifest(root, version)
    kf_cols = manifest.get("kf_cols", [])
    if not kf_cols:
        return version
    eff_bits = int(bits or max(manifest.get("kf_bits", 10), 10))
    sat = _kf_saturated(manifest, max_density, eff_bits)
    if not sat:
        return version
    rebuilt = _collect_key_filters(
        root, sat, kf_cols, eff_bits, tag=f"r{version + 1}"
    )
    return _commit(
        root,
        [os.path.join(root, f) for f in manifest["files"]],
        [],
        [],
        "kf_rebuild",
        expected_version=version,
        stats=manifest.get("stats", {}),
        stats_cols=manifest.get("stats_cols", []),
        dvs=manifest.get("dvs", []),
        dv_key=manifest.get("dv_key", []),
        kf_cols=kf_cols,
        key_filters={**manifest.get("kf", {}), **rebuilt},
        kf_bits=eff_bits,
    )


def start_dedup_versioned_sink(
    stream_df: DataFrame,
    root: str,
    checkpoint: str,
    fingerprint_col: str,
    order_col: str,
    query_name: str | None = None,
):
    """Exactly-once AND exactly-distinct streaming ingest: the
    ``start_versioned_sink`` txn discipline plus DATA-LEVEL dedup — each
    micro-batch keeps one row per ``fingerprint_col`` (first by
    ``order_col``, deterministic), anti-joins the table's OWN
    fingerprint column (a column-pruned manifest-planned scan — at
    100 TB the lens is one narrow column, and the join broadcasts the
    batch side if Spark's size estimate allows), and commits only the
    NOVEL rows as one txn-stamped append. The two replay-safety layers
    compose: a retried batch no-ops on its txn id, and re-delivered or
    re-streamed DATA (fresh checkpoint, upstream backfill, a duplicate
    in tomorrow's drop) absorbs nothing because its fingerprints
    already exist — the st13 lens discipline as the corpus front door.
    Batches with no novel rows commit nothing (no empty versions).
    Returns the started query; callers own ``awaitTermination``."""

    def _query_id() -> str:
        with open(os.path.join(checkpoint, "metadata")) as f:
            return json.load(f)["id"]

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        spark = batch_df.sparkSession
        w = Window.partitionBy(fingerprint_col).orderBy(order_col)
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        if table_version(root):
            lens = read_version(spark, root).select(fingerprint_col)
            batch = batch.join(lens, on=fingerprint_col, how="left_anti")
        if batch.isEmpty():
            return
        write_version(
            spark, batch, root, txn_id=f"{_query_id()}:{batch_id}"
        )

    writer = stream_df.writeStream.foreachBatch(absorb).option(
        "checkpointLocation", checkpoint
    )
    if query_name:
        writer = writer.queryName(query_name)
    return writer.trigger(availableNow=True).start()


def read_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level CHANGE DATA FEED over ``(from_version, to_version]`` —
    the what-changed contract downstream consumers (MV refreshers,
    search-index absorbers, replication) subscribe to when the table is
    no longer append-only (``incremental_read`` is the cheap
    append-only fast path; this generalizes it):

    - ``append``  commits emit their added rows as ``insert``.
    - ``merge`` / ``overwrite`` / ``rollback`` commits KEY-DIFF the
      removed files against the added files (one full-outer join per
      commit over the touched region only — untouched files never
      participate, which is what zone-map pruned merges buy the feed
      too): new-only keys emit ``insert``, gone keys emit ``delete``,
      keys present on both sides emit ``update_pre``/``update_post``
      ONLY when a non-key column actually changed. BOTH sides read
      LOGICALLY: prev's DVs apply to the removed files, and the
      commit's own DVs apply to added files whose vintage predates the
      commit (a rollback re-adding still-tombstoned files — round 14;
      merge/overwrite outputs are immune by scoping and skip the DV
      read). A DV-ONLY transition (a rollback dropping or restoring
      deletion vectors with the file list unchanged) diffs the kept
      files' two logical views restricted to the delta vectors' keys:
      resurrected keys emit ``insert``, newly re-covered keys emit
      ``delete`` — bounded by the delete's key set, never the table
      (round 14, replay hunt).
    - ``compact`` / ``optimize`` / ``zorder`` commits (``_REWRITE_OPS``)
      are SKIPPED WITHOUT DIFFING: physical rewrites preserve the
      logical row set by the format's own contract (the same one
      ``incremental_read`` relies on; Delta's change feed marks these
      ``dataChange=false`` and emits nothing) — a compaction folding
      tombstones moves no logical rows because the delete events were
      already emitted by their DV commit. Round 13: previously these
      ran the key-diff only to prove emptiness — an eager full-table
      full-outer join per maintenance commit (0.42 s of wh06's 1.78 s
      at sf0.1; SCALE.md r13 profile) — and they need no ``key_cols``
      now.
    - ``delete`` commits (deletion vectors) emit the NEWLY tombstoned
      keys' pre-image rows as ``delete`` (prior tombstones excluded).
    - ``evolve`` commits (schema evolution) move no rows and read as
      SILENCE; commits after one emit with the evolved schema, and the
      cross-boundary union backfills the added columns as NULL on the
      older commits' rows. A rewrite-only range's 0-row feed carries
      the range END's recorded schema — post-evolve when the silent
      range contains an evolve (round 14; pre-r14 it borrowed the
      rewrite-era footer's pre-evolve schema).

    Requires ``key_cols`` unless the range holds only appends,
    rewrites, and metadata commits. Output = row schema +
    ``_change_type`` + ``_commit_version``, ordered by nothing
    (downstream sorts). Each commit's diff work is bounded by that
    commit's touched files — the feed never rescans the table. Range
    contract: the logical plan grows ONE UNION PER COMMIT in the
    range, so Catalyst analysis time is linear in range length —
    consumers should read bounded ranges off a watermark (the MV
    refreshers and stream sources do) or chunk a large backfill into
    bounded read_changes calls rather than one thousand-commit
    plan."""
    if to_version is None:
        to_version = table_version(root)
    out: DataFrame | None = None
    last_silent: dict | None = None  # schema donor for an all-silent range

    def _read(rels: list[str], manifest: dict | None = None) -> DataFrame | None:
        if not rels:
            return None
        reader = spark.read
        sch = _schema_of(manifest) if manifest else None
        if sch is not None:
            reader = reader.schema(sch)
        return reader.parquet(*[os.path.join(root, f) for f in rels])

    for v in range(from_version + 1, to_version + 1):
        # need=(): the feed diffs file LISTS (added/removed/dvs) and
        # reads data; it never touches the per-file stats/kf/rows maps
        m = read_manifest(root, v, need=())
        prev = read_manifest(root, v - 1, need=()) if v > 1 else {}
        typed: DataFrame | None = None
        if m["op"] == "evolve":
            continue  # metadata-only commits read as silence
        if m["op"] in _REWRITE_OPS:
            # physical rewrites preserve the logical row set by
            # contract — skip without diffing (see docstring)
            last_silent = m
            continue
        if m["op"] == "append":
            added = _read(m["added"], m)
            if added is not None:
                typed = added.withColumn("_change_type", F.lit("insert"))
        elif m["op"] == "delete":
            new_dvs = [d for d in m["dvs"] if d not in set(prev.get("dvs", []))]
            keys = _read(new_dvs)
            if keys is not None and m["files"]:
                # pre-image = the rows LOGICALLY visible at v-1 (prior
                # DVs applied with per-file scope, matching
                # read_version): a key already tombstoned and not
                # re-inserted emits nothing; a re-inserted key's live
                # row emits as the delete it really is
                if prev.get("dvs"):
                    base = _read_with_dvs(
                        spark, root, prev["files"], prev["dvs"],
                        prev["dv_key"], schema=_schema_of(prev),
                        fv=prev.get("fv"), dvv=prev.get("dvv"),
                    )
                else:
                    base = _read(prev["files"], prev)
                typed = base.join(
                    keys.distinct(), m["dv_key"], "left_semi"
                ).withColumn("_change_type", F.lit("delete"))
        else:
            if key_cols is None:
                raise ValueError(
                    f"read_changes needs key_cols to diff the {m['op']} "
                    f"commit at v{v}"
                )
            # the LOGICAL pre-image: rows already tombstoned before this
            # commit were deleted (and emitted) by their DV commit — a
            # compaction folding them must read as silence, not deletes.
            # Prior DVs apply per-file-scoped (matching read_version) so
            # a re-inserted row's removal still reads as a real change.
            # removed files belong to the PREV snapshot, so the
            # pre-image reads with prev's recorded schema: after an
            # overwrite (which resets the schema to the new data),
            # pre-evolution removed files still NULL-backfill the
            # evolved columns — otherwise the computed pre-image drops
            # them and update/delete rows misclassify
            if m["removed"] and prev.get("dvs"):
                old = _read_with_dvs(
                    spark, root, m["removed"], prev["dvs"], prev["dv_key"],
                    schema=_schema_of(prev),
                    fv=prev.get("fv"), dvv=prev.get("dvv"),
                )
            else:
                old = _read(m["removed"], prev)
            # the commit's own DVs apply to its ADDED side too (round
            # 14, found by the replay hunt over delete->compact->
            # rollback logs): a rollback re-adds files at their
            # ORIGINAL vintage, and the restored vectors still
            # tombstone rows in them — reading those files raw
            # resurrects deleted keys as phantom inserts. Merge/
            # overwrite-added files are immune by scoping (their
            # vintage IS this commit, newer than every carried DV), so
            # the DV read is gated on an added file predating v —
            # rollback's re-entries are the only payers.
            added_fv = m.get("fv", {})
            if m["added"] and m.get("dvs") and any(
                added_fv.get(p, _commit_of(p)) < v for p in m["added"]
            ):
                new = _read_with_dvs(
                    spark, root, m["added"], m["dvs"], m["dv_key"],
                    schema=_schema_of(m),
                    fv=m.get("fv"), dvv=m.get("dvv"),
                )
            else:
                new = _read(m["added"], m)
            # DV-ONLY transitions (round 14, replay hunt seed 94): a
            # rollback can change the DELETION-VECTOR set without
            # touching the file list — rolling back across a delete
            # drops its vectors (keys RESURRECT); rolling back onto a
            # DV'd snapshot from a later un-DV'd one restores them
            # (keys disappear). The file diff sees nothing either way,
            # so the KEPT files' two logical views join the diff too,
            # restricted to the delta vectors' keys — work is bounded
            # by the delete's key set, never the table. Carried DVs
            # keep their vintage (r13), so identity-by-path+vintage
            # detects the delta exactly; merges/overwrites carry DV
            # sets verbatim and skip this entirely.
            prev_eff = {
                d: prev.get("dvv", {}).get(d, _commit_of(d))
                for d in prev.get("dvs", [])
            }
            m_eff = {
                d: m.get("dvv", {}).get(d, _commit_of(d))
                for d in m.get("dvs", [])
            }
            gone_dvs = [
                d for d, ev in prev_eff.items() if m_eff.get(d) != ev
            ]
            born_dvs = [
                d for d, ev in m_eff.items() if prev_eff.get(d) != ev
            ]
            kept = (
                [f for f in m["files"] if f in set(prev.get("files", []))]
                if (gone_dvs or born_dvs)
                else []
            )
            if kept:
                delta_keys = _read(sorted(set(gone_dvs + born_dvs)))
            if kept and delta_keys is not None:
                delta_keys = delta_keys.distinct()
                kcols = m.get("dv_key") or prev.get("dv_key")
                old_kept = (
                    _read_with_dvs(
                        spark, root, kept, prev["dvs"], prev["dv_key"],
                        schema=_schema_of(prev),
                        fv=prev.get("fv"), dvv=prev.get("dvv"),
                    )
                    if prev.get("dvs")
                    else _read(kept, prev)
                ).join(delta_keys, kcols, "left_semi")
                new_kept = (
                    _read_with_dvs(
                        spark, root, kept, m["dvs"], m["dv_key"],
                        schema=_schema_of(m),
                        fv=m.get("fv"), dvv=m.get("dvv"),
                    )
                    if m.get("dvs")
                    else _read(kept, m)
                ).join(delta_keys, kcols, "left_semi")
                old = (
                    old_kept
                    if old is None
                    else old.unionByName(old_kept, allowMissingColumns=True)
                )
                new = (
                    new_kept
                    if new is None
                    else new.unionByName(new_kept, allowMissingColumns=True)
                )
            if old is None and new is None:
                typed = None
            elif old is None:
                typed = new.withColumn("_change_type", F.lit("insert"))
            elif new is None:
                typed = old.withColumn("_change_type", F.lit("delete"))
            else:
                # commits straddling a schema boundary (a rollback
                # across an evolve restores the pre-evolve schema; an
                # overwrite resets it) read their two sides with
                # DIFFERENT schemas — align on the union with typed
                # NULL backfill before structing, exactly as the
                # cross-commit union does, or the diff would reference
                # a column one side lacks (round 14, found by running
                # the CDC replay property over rollback ops)
                if set(old.columns) != set(new.columns):
                    for c in [
                        c for c in new.columns if c not in old.columns
                    ]:
                        old = old.withColumn(
                            c, F.lit(None).cast(new.schema[c].dataType)
                        )
                    for c in [
                        c for c in old.columns if c not in new.columns
                    ]:
                        new = new.withColumn(
                            c, F.lit(None).cast(old.schema[c].dataType)
                        )
                data_cols = [c for c in old.columns if c not in key_cols]
                o = old.select(
                    *key_cols,
                    F.struct(*data_cols).alias("__o"),
                    F.lit(True).alias("__in_o"),
                )
                n = new.select(
                    *key_cols,
                    F.struct(*data_cols).alias("__n"),
                    F.lit(True).alias("__in_n"),
                )
                # four consumers fan out of this one diff join (insert/
                # delete/update_pre/update_post) — checkpoint it or each
                # branch re-executes the join and its scans (the cl02
                # re-execution class the plan audit gates)
                j = o.join(n, key_cols, "full_outer").localCheckpoint(
                    eager=True
                )
                ins = j.where(F.col("__in_o").isNull()).select(
                    *key_cols,
                    F.col("__n").alias("__row"),
                    F.lit("insert").alias("_change_type"),
                )
                dele = j.where(F.col("__in_n").isNull()).select(
                    *key_cols,
                    F.col("__o").alias("__row"),
                    F.lit("delete").alias("_change_type"),
                )
                changed = j.where(
                    F.col("__in_o").isNotNull()
                    & F.col("__in_n").isNotNull()
                    & ~F.col("__o").eqNullSafe(F.col("__n"))
                )
                pre = changed.select(
                    *key_cols,
                    F.col("__o").alias("__row"),
                    F.lit("update_pre").alias("_change_type"),
                )
                post = changed.select(
                    *key_cols,
                    F.col("__n").alias("__row"),
                    F.lit("update_post").alias("_change_type"),
                )
                typed = (
                    ins.unionByName(dele).unionByName(pre).unionByName(post)
                    .select(
                        *key_cols,
                        *[F.col(f"__row.{c}").alias(c) for c in data_cols],
                        "_change_type",
                    )
                )
        if typed is None:
            continue
        typed = typed.withColumn("_commit_version", F.lit(v))
        out = (
            typed
            if out is None
            # allowMissingColumns: commits straddling a schema evolution
            # differ by the added columns — NULL-backfill, never fail
            else out.unionByName(typed, allowMissingColumns=True)
        )
    if out is None:
        if last_silent is not None and last_silent["files"]:
            # a range of only rewrite commits is a VALID, EMPTY feed
            # (the pre-r13 diff path returned a 0-row frame here).
            # Schema donor = the RANGE END's manifest (round 14): a
            # later evolve in an otherwise-silent range must show on
            # the empty frame's schema — the explicit-schema read
            # NULL-backfills the added columns exactly as the
            # cross-boundary union would; with no recorded schema it
            # falls back to the rewrite-era file footer as before
            end_m = read_manifest(root, to_version, need=())
            base = _read(last_silent["files"][:1], end_m)
            return (
                base.limit(0)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(to_version))
            )
        raise ValueError(
            f"no changes in ({from_version}, {to_version}] of {root}"
        )
    return out


def refresh_mv_from_feed(
    spark: SparkSession,
    base_root: str,
    mv_root: str,
    group_cols: list[str],
    sum_cols: list[str],
    key_cols: list[str],
) -> int:
    """General incremental view maintenance: like
    ``refresh_aggregate_mv`` but driven by the row-level CHANGE FEED,
    so the base table may receive UPDATES and DELETES (merge_into /
    delete_keys), not just appends. Classic add/retract maintenance
    for self-decomposable aggregates: each feed event folds into the
    MV as a signed delta — ``insert``/``update_post`` contribute
    (+1, +value), ``delete``/``update_pre`` contribute (-1, -value) —
    then one dimension-sized union + re-agg; groups whose count
    retracts to zero drop out. The refresh stays O(changes since the
    watermark): the feed diffs only each commit's touched files, and
    the fold is one pass over the events. Same manifest-stamped
    watermark + idempotent-retry contract as the append-only refresh;
    physical rewrites (compact/optimize) emit no events and therefore
    cost the MV nothing. Returns the MV version."""
    base_v = table_version(base_root)
    if base_v == 0:
        raise ValueError(f"refresh_mv_from_feed: base {base_root} is empty")
    mv_v = table_version(mv_root)
    last = 0
    if mv_v:
        txn = _load_manifest_raw(mv_root, mv_v).get("txn_id") or ""
        if not txn.startswith("mvfeed:"):
            raise ValueError(
                f"{mv_root} v{mv_v} was not committed by refresh_mv_from_feed"
                f" (txn_id={txn!r})"
            )
        last = int(txn.split(":", 1)[1])
    if last >= base_v:
        return mv_v
    changes = read_changes(spark, base_root, last, base_v, key_cols=key_cols)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_post"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        changes.withColumn("__sign", sign)
        .groupBy(*group_cols)
        .agg(
            F.sum("__sign").cast("long").alias("n_rows"),
            *[
                F.sum(F.col("__sign") * F.col(c)).alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
    )
    if mv_v:
        merged = (
            read_version(spark, mv_root)
            .unionByName(delta)
            .groupBy(*group_cols)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
            )
        )
    else:
        merged = delta
    merged = merged.where(F.col("n_rows") > 0)
    return write_version(
        spark, merged, mv_root, mode="overwrite", txn_id=f"mvfeed:{base_v}"
    )


def start_feed_mv_sink(
    spark: SparkSession,
    base_root: str,
    mv_root: str,
    group_cols: list[str],
    sum_cols: list[str],
    key_cols: list[str],
    checkpoint: str,
    query_name: str | None = None,
):
    """The manifest log IS the stream: tails ``_manifests/v*.json`` with
    Structured Streaming's file source — every committed version is one
    immutable file, so the source's exactly-once file tracking turns
    the commit log into a change stream with no extra machinery — and
    runs ``refresh_mv_from_feed`` per micro-batch. The refresh keeps
    its own manifest-stamped watermark and is idempotent, so the
    composition is doubly replay-safe: a re-delivered manifest event
    triggers a refresh that no-ops, and a crashed-and-restarted query
    resumes from either side's state without double-applying deltas.
    This closes the CDC loop end-to-end: writers commit (batch or
    ``start_versioned_sink``), the log streams, the retractable MV
    follows — updates and deletes included. Returns the started query;
    callers own ``awaitTermination``."""
    stream = (
        spark.readStream.schema("version LONG, op STRING")
        .option("pathGlobFilter", "v*.json")
        .option("maxFilesPerTrigger", 1)
        .json(os.path.join(base_root, _MANIFESTS))
    )

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        # the batch rows are only the trigger; the refresh reads the
        # authoritative state from the manifests via its own watermark
        refresh_mv_from_feed(
            batch_df.sparkSession, base_root, mv_root,
            group_cols, sum_cols, key_cols,
        )

    writer = stream.writeStream.foreachBatch(absorb).option(
        "checkpointLocation", checkpoint
    )
    if query_name:
        writer = writer.queryName(query_name)
    return writer.trigger(availableNow=True).start()
