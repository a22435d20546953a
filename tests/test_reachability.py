"""Dead-code gates over ``querysight_spark``: every top-level def and module
constant must be reachable from an entry point, every option that gates a
branch must be set by some call site, and every import must be read.

Pure AST, no Spark. The reachability scan is a name-reference closure:

- roots are every module-level statement of the package other than defs,
  imports and constant assignments (the ``__main__`` guard of
  ``__main__.py``, module-level ``if``/``try`` blocks, assignments to
  dunder names such as ``__all__``), every top-level def registered by a
  package decorator (the ``@_q`` query bodies), and the whole of
  ``__spark_entry__.py``, ``bench.py`` and ``perfbench/*.py``;
- a module-level assignment to plain names (``X = ...``, ``X: T = ...``,
  ``A, B = ...``) is a node like a def: it is scanned once one of its
  names is reached;
- a reached body marks every def it names, with import aliases resolved
  (``from m import f as g``, ``import m as M`` + ``M.f``, re-exports through
  a package ``__init__``); function-local imports count as well;
- a reached class reaches all of its methods.

Tests and tools are NOT roots: a def that only they call is dead package
code. Run as a script (``python tests/test_reachability.py [repo_root]``)
to print every finding of the three gates for any checkout.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "querysight_spark"

# module:def -> reason. Each entry must still be unreached (a stale entry
# fails the gate too), so the list cannot silently outgrow its reasons.
ALLOWED_UNREACHED: dict[str, str] = {
    "querysight_spark.plans.providers:*": (
        "the paper's per-pattern LLM recommendation step (PAPER.md §1(6)); "
        "the CLI deliberately has no switch for it, tests drive it"
    ),
    "querysight_spark.plans.recommend:parse_llm_response": (
        "parses the LLM step's reply (PAPER.md §1(6)); same reason as "
        "plans.providers"
    ),
    "querysight_spark.plans.inspect:*": (
        "physical-plan summary used by tools/plan_audit.py, the "
        "whole-inventory plan audit of the round-exit verify"
    ),
    "querysight_spark.testing:make_clustered_embeddings": (
        "test fixture: the clustered corpus the ANN recall tests use"
    ),
}

_CONTRACT = "contract parameter of the operator's result"
_POST_FILTER = "the paper's pattern post-filter (PAPER.md §1); part of the contract"
_SKEW = "skew guard; the adversarial-input sweep (ROADMAP item 7) turns it on"
_DEPLOY = "deployment setting of a long-running stream"
_JDBC = "connection setting of the JDBC query-log source; the deployment sets it"
_CONSOLE = "console option of the interactive report display"
_JPEG = (
    "option of the JPEG fixture encoder that tests set to drive decode_jpeg's "
    "quantization-table and restart-marker paths, which real JPEGs reach"
)
_MOD = PACKAGE + "."

# module:def.param -> reason. A defaulted parameter that gates a branch of
# its def while no call site in the scan passes it is an option with one
# value: fold it, or keep it here with a reason. A stale entry fails too.
ALLOWED_UNSET: dict[str, str] = {
    _MOD + "__main__:main.argv": (
        "CLI entry: None reads sys.argv (the python -m path); the CLI tests "
        "pass their own argv"
    ),
    _MOD + "operators.asof:asof_join.tiebreak": _CONTRACT,
    _MOD + "operators.rangejoin:range_join.inclusive_end": _CONTRACT,
    _MOD + "operators.graph:bfs_distances.source": _CONTRACT,
    _MOD + "operators.dedup:cluster_keep_best.score_col": _CONTRACT,
    _MOD + "operators.textstats:dedupe_keep_best.score_col": _CONTRACT,
    _MOD + "operators.textstats:remove_duplicate_spans.id_col": _CONTRACT,
    _MOD + "operators.multimodal:encode_y4m.colorspace": _CONTRACT,
    _MOD + "streaming.stateful:stateful_anomalies.min_history": _CONTRACT,
    _MOD + "plans.patterns:filter_patterns.min_frequency": _POST_FILTER,
    _MOD + "plans.patterns:filter_patterns.models_any": _POST_FILTER,
    _MOD + "plans.patterns:filter_patterns.pattern_ids": _POST_FILTER,
    _MOD + "operators.dedup:exact_duplicate_pairs.max_group_size": _SKEW,
    _MOD + "operators.linkage:blocked_fuzzy_pairs.max_block_size": _SKEW,
    _MOD + "operators.search:delete_from_text_index.txn_id": (
        "crash recovery: a retried delete with its txn id is a no-op"
    ),
    _MOD + "sources.snapshot_cache:level_key.schema_fingerprint": (
        "cache-key safety: a schema change must invalidate downstream levels"
    ),
    _MOD + "streaming.incremental:stream_query_logs.max_files_per_trigger": _DEPLOY,
    _MOD + "streaming.incremental:start_incremental_merge.trigger_available_now": _DEPLOY,
    _MOD + "sources.versioned:start_versioned_sink.query_name": _DEPLOY,
    _MOD + "sources.versioned:start_dedup_versioned_sink.query_name": _DEPLOY,
    _MOD + "plans.console:display_dataframe.columns": _CONSOLE,
    _MOD + "plans.console:display_dataframe.interactive": _CONSOLE,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.driver": _JDBC,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.user": _JDBC,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.password": _JDBC,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.options": _JDBC,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.predicates": _JDBC,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.partition_column": _JDBC,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.lower_bound": _JDBC,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.upper_bound": _JDBC,
    _MOD + "sources.jdbc_log:read_query_log_jdbc.num_partitions": _JDBC,
    _MOD + "operators.multimodal:decode_image.prefer_pil": (
        "platform path: decodes through PIL where it is installed"
    ),
    _MOD + "operators.multimodal:encode_jpeg.quant": _JPEG,
    _MOD + "operators.multimodal:encode_jpeg_progressive.quant": _JPEG,
    _MOD + "operators.multimodal:encode_jpeg_progressive.restart_interval": _JPEG,
    _MOD + "operators.similarity:ivf_topk.centroids": (
        "a trained codebook reused across probes; None trains one per call"
    ),
    _MOD + "operators.graph:triangles.orient": (
        "both orientations satisfy the oracle and SCALE.md measures the "
        "hub-skew regime; the viral-key variant of ROADMAP item 7 picks one"
    ),
}


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _target_names(targets: list[ast.AST]) -> list[str] | None:
    """The plain names an assignment binds, or None when any target is
    not a plain name (``d[k] = v``, ``obj.attr = v``)."""
    out: list[str] = []
    for t in targets:
        if isinstance(t, ast.Name):
            out.append(t.id)
        elif isinstance(t, (ast.Tuple, ast.List)):
            sub = _target_names(t.elts)
            if sub is None:
                return None
            out += sub
        else:
            return None
    return out


def _constant_names(node: ast.AST) -> list[str]:
    """Names a module-level statement defines as a constant node: a plain
    assignment none of whose names is a dunder."""
    if isinstance(node, ast.Assign):
        names = _target_names(node.targets)
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        names = _target_names([node.target])
    else:
        return []
    if not names or any(_is_dunder(n) for n in names):
        return []
    return names


_DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNC_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef)


class _Module:
    def __init__(self, name: str, path: Path, is_pkg: bool, is_root: bool):
        self.name = name
        self.is_pkg = is_pkg
        self.is_root = is_root
        self.source = path.read_text()
        self.tree = ast.parse(self.source, filename=str(path))
        self.defs: dict[str, ast.AST] = {}
        for n in self.tree.body:
            if isinstance(n, _DEF_TYPES):
                self.defs[n.name] = n
            for c in _constant_names(n):
                self.defs[c] = n
        self.aliases: dict[str, set[tuple[str, str | None]]] = {}

    def bind_imports(self, modules: dict[str, _Module]) -> None:
        """Record every import binding in the module, at any depth, as
        ``local name -> {(module, attr-or-None)}``."""
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self._bind(a.asname, (a.name, None))
                    else:
                        top = a.name.split(".")[0]
                        self._bind(top, (top, None))
            elif isinstance(node, ast.ImportFrom):
                base = self._absolute(node.module, node.level)
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    target = (sub, None) if sub in modules else (base, a.name)
                    self._bind(a.asname or a.name, target)

    def _absolute(self, module: str | None, level: int) -> str:
        if not level:
            return module or ""
        parts = self.name.split(".")
        if not self.is_pkg:
            parts = parts[:-1]
        parts = parts[: len(parts) - (level - 1)]
        return ".".join(parts + ([module] if module else []))

    def _bind(self, local: str, target: tuple[str, str | None]) -> None:
        self.aliases.setdefault(local, set()).add(target)

    def _registered(self, node: ast.AST) -> bool:
        """A def whose decorator is a package function (``@_q(...)``) is
        registered at import time; ``@dataclass``-style decorators are not."""
        for d in node.decorator_list:
            f = d.func if isinstance(d, ast.Call) else d
            if not isinstance(f, ast.Name):
                continue
            if f.id in self.defs or any(
                mod.split(".")[0] == PACKAGE for mod, _ in self.aliases.get(f.id, ())
            ):
                return True
        return False

    def root_nodes(self) -> list[ast.AST]:
        if self.is_root:
            return [self.tree]
        out = []
        for n in self.tree.body:
            if isinstance(n, (ast.Import, ast.ImportFrom)) or _constant_names(n):
                continue
            if isinstance(n, _DEF_TYPES):
                if self._registered(n):
                    out.append(n)
                continue
            out.append(n)
        return out


class _Scan:
    def __init__(self, repo: Path):
        self.modules: dict[str, _Module] = {}
        pkg = repo / PACKAGE
        for path in sorted(pkg.rglob("*.py")):
            rel = path.relative_to(repo).with_suffix("")
            parts = list(rel.parts)
            is_pkg = parts[-1] == "__init__"
            if is_pkg:
                parts = parts[:-1]
            name = ".".join(parts)
            self.modules[name] = _Module(name, path, is_pkg, is_root=False)
        roots = [repo / "__spark_entry__.py", repo / "bench.py"]
        roots += sorted((repo / "perfbench").glob("*.py"))
        for path in roots:
            if path.exists():
                name = f"<root>.{path.relative_to(repo)}"
                self.modules[name] = _Module(name, path, False, is_root=True)
        for m in self.modules.values():
            m.bind_imports(self.modules)
        self.reached: set[tuple[str, str]] = set()
        self._queue: list[tuple[str, str]] = []

    def _attr_targets(
        self, module: str, attr: str, seen: frozenset = frozenset()
    ) -> set[tuple[str, str]]:
        """The defs ``module.attr`` names: a def there, or whatever a
        re-export names."""
        if (module, attr) in seen:
            return set()
        seen = seen | {(module, attr)}
        m = self.modules.get(module)
        if m is None:
            return set()
        out = {(module, attr)} if attr in m.defs else set()
        for target, sub in m.aliases.get(attr, ()):
            if sub is not None:
                out |= self._attr_targets(target, sub, seen)
        return out

    def resolve(self, m: _Module, chain: list[str]) -> set[tuple[str, str]]:
        """The defs ``a.b.c`` read in module ``m`` names: a local def, or an
        import alias followed attribute by attribute through modules."""
        head, rest = chain[0], chain[1:]
        out = {(m.name, head)} if head in m.defs else set()
        for module, attr in m.aliases.get(head, ()):
            if attr is not None:
                out |= self._attr_targets(module, attr)
                continue
            cur = module
            for part in rest:
                sub = f"{cur}.{part}"
                if sub in self.modules:
                    cur = sub
                    continue
                out |= self._attr_targets(cur, part)
                break
        return out

    def _scan_node(self, m: _Module, node: ast.AST) -> None:
        for n in ast.walk(node):
            chain = _chain(n)
            if chain is not None and not isinstance(n.ctx, ast.Store):
                for key in self.resolve(m, chain):
                    self._reach(*key)
            elif (
                isinstance(n, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets)
            ):
                for c in ast.walk(n.value):
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        for key in self.resolve(m, [c.value]):
                            self._reach(*key)

    def _reach(self, module: str, name: str) -> None:
        key = (module, name)
        if key in self.reached:
            return
        self.reached.add(key)
        self._queue.append(key)

    def run(self) -> None:
        for m in self.modules.values():
            for node in m.root_nodes():
                if isinstance(node, _DEF_TYPES):
                    self._reach(m.name, node.name)
                else:
                    self._scan_node(m, node)
        while self._queue:
            module, name = self._queue.pop()
            m = self.modules[module]
            self._scan_node(m, m.defs[name])

    def unreached(self) -> dict[str, int]:
        """``module:name -> line count`` for every unreached package def or
        module constant."""
        out = {}
        for m in self.modules.values():
            if m.is_root:
                continue
            for name, node in m.defs.items():
                if (m.name, name) not in self.reached:
                    out[f"{m.name}:{name}"] = node.end_lineno - node.lineno + 1
        return out


def _chain(n: ast.AST) -> list[str] | None:
    """``a.b.c`` as ``["a", "b", "c"]`` for a Name or an Attribute chain on
    a Name; None for anything else."""
    parts = []
    cur = n
    while isinstance(cur, ast.Attribute):
        parts.append(cur.attr)
        cur = cur.value
    if not isinstance(cur, ast.Name):
        return None
    return [cur.id] + parts[::-1]


def _allow_entry(key: str) -> str | None:
    """The allowlist entry that covers ``module:def``, if any."""
    for entry in (key, f"{key.split(':')[0]}:*"):
        if entry in ALLOWED_UNREACHED:
            return entry
    return None


def unreached_defs(repo: Path = REPO) -> dict[str, int]:
    scan = _Scan(repo)
    scan.run()
    return scan.unreached()


# --- parameter gate -----------------------------------------------------------


class _Callee:
    """One package function or method and its defaulted parameters."""

    def __init__(self, key: str, node: ast.AST, is_method: bool):
        self.key = key
        a = node.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        static = any(
            isinstance(d, ast.Name) and d.id == "staticmethod"
            for d in node.decorator_list
        )
        self.positional = positional[1:] if is_method and not static else positional
        n_def = len(a.defaults)
        self.defaulted = positional[len(positional) - n_def:] if n_def else []
        self.defaulted += [
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        self.gating = self._gating(node) & set(self.defaulted)
        self.passed: set[str] = set()

    @staticmethod
    def _gating(node: ast.AST) -> set[str]:
        """Names read in the test of an ``if``, ``IfExp`` or ``while``
        anywhere in the def's body."""
        out: set[str] = set()
        for stmt in node.body:
            for n in ast.walk(stmt):
                if isinstance(n, (ast.If, ast.IfExp, ast.While)):
                    out |= {t.id for t in ast.walk(n.test) if isinstance(t, ast.Name)}
        return out

    def take(self, call: ast.Call) -> None:
        """Mark every parameter the call passes: by keyword, by position
        (``self`` skipped), or through ``*args``/``**kwargs`` forwarding."""
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                self.passed |= set(self.positional[i:])
                break
            if i < len(self.positional):
                self.passed.add(self.positional[i])
        for kw in call.keywords:
            if kw.arg is None:
                self.passed |= set(self.defaulted)
            else:
                self.passed.add(kw.arg)

    def unset(self) -> list[str]:
        missing = self.gating - self.passed
        return [f"{self.key}.{p}" for p in self.defaulted if p in missing]


def _choices(node: ast.AST) -> list[ast.AST]:
    """The expressions a value may evaluate to: both arms of a conditional."""
    if isinstance(node, ast.IfExp):
        return _choices(node.body) + _choices(node.orelse)
    return [node]


def _local_bindings(scan: _Scan, m: _Module) -> dict[str, set[tuple[str, str]]]:
    """``name -> defs`` for every ``name = f`` or ``name = f if c else g``
    in the module, at any depth, so a call through the name reaches them."""
    out: dict[str, set[tuple[str, str]]] = {}
    for n in ast.walk(m.tree):
        if isinstance(n, ast.Assign) and len(n.targets) == 1:
            t = n.targets[0]
            if not isinstance(t, ast.Name):
                continue
            for v in _choices(n.value):
                chain = _chain(v)
                if chain:
                    out.setdefault(t.id, set()).update(scan.resolve(m, chain))
    return out


def unset_params(repo: Path = REPO) -> list[str]:
    """``module:def.param`` for every defaulted parameter of a reached def
    that gates a branch of the def and that no call site in the scanned
    code passes."""
    scan = _Scan(repo)
    scan.run()
    funcs: dict[tuple[str, str], _Callee] = {}
    inits: dict[tuple[str, str], _Callee] = {}
    methods: dict[str, list[_Callee]] = {}
    for m in scan.modules.values():
        if m.is_root:
            continue
        for name, node in m.defs.items():
            if (m.name, name) not in scan.reached:
                continue
            if isinstance(node, _FUNC_TYPES):
                funcs[(m.name, name)] = _Callee(f"{m.name}:{name}", node, False)
            elif isinstance(node, ast.ClassDef):
                for f in node.body:
                    if not isinstance(f, _FUNC_TYPES):
                        continue
                    c = _Callee(f"{m.name}:{name}.{f.name}", f, True)
                    methods.setdefault(f.name, []).append(c)
                    if f.name == "__init__":
                        inits[(m.name, name)] = c
    for m in scan.modules.values():
        bound = _local_bindings(scan, m)
        for call in ast.walk(m.tree):
            if not isinstance(call, ast.Call):
                continue
            chain = _chain(call.func)
            keys = scan.resolve(m, chain) if chain else set()
            if chain and len(chain) == 1:
                keys |= bound.get(chain[0], set())
            for key in keys:
                for callee in (funcs.get(key), inits.get(key)):
                    if callee is not None:
                        callee.take(call)
            if isinstance(call.func, ast.Attribute):
                for callee in methods.get(call.func.attr, ()):
                    callee.take(call)
    callees = list(funcs.values()) + [c for cs in methods.values() for c in cs]
    return sorted(p for c in callees for p in c.unset())


# --- import gate --------------------------------------------------------------


def unused_imports(repo: Path = REPO) -> list[str]:
    """``module:name`` for every import binding of a package module that the
    module never reads. ``__future__`` imports, names an ``__init__.py``
    lists in ``__all__`` and lines marked ``# noqa: F401`` are exempt."""
    scan = _Scan(repo)
    out = []
    for m in scan.modules.values():
        if m.is_root:
            continue
        lines = m.source.splitlines()
        read = {
            n.id for n in ast.walk(m.tree)
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
        }
        exported: set[str] = set()
        for n in m.tree.body:
            if m.is_pkg and isinstance(n, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
            ):
                exported |= {
                    c.value for c in ast.walk(n.value)
                    if isinstance(c, ast.Constant) and isinstance(c.value, str)
                }
        for node in ast.walk(m.tree):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if "noqa: F401" in " ".join(lines[node.lineno - 1: node.end_lineno]):
                continue
            for a in node.names:
                local = a.asname or a.name.split(".")[0]
                if local not in read and local not in exported:
                    out.append(f"{m.name}:{local}")
    return sorted(out)


# --- tests --------------------------------------------------------------------


def test_every_package_def_is_reachable_or_allowlisted():
    unreached = unreached_defs()
    dead = {k: n for k, n in sorted(unreached.items()) if not _allow_entry(k)}
    assert not dead, (
        "package defs or module constants that no entry point reaches (only "
        f"tests/tools name them): {dead}. Delete them, or allowlist with a "
        "reason in tests/test_reachability.py"
    )


def test_allowlist_entries_are_still_unreached():
    used = {_allow_entry(k) for k in unreached_defs()}
    stale = sorted(set(ALLOWED_UNREACHED) - used)
    assert not stale, f"allowlist entries that are reached or gone: {stale}"


def test_every_branching_option_is_set_or_allowlisted():
    unset = [p for p in unset_params() if p not in ALLOWED_UNSET]
    assert not unset, (
        "defaulted parameters that gate a branch but that no call site in the "
        f"package or an entry point passes: {unset}. Fold each to the value "
        "every entry point runs, or allowlist it with a reason in "
        "ALLOWED_UNSET"
    )


def test_unset_allowlist_entries_are_still_unset():
    stale = sorted(set(ALLOWED_UNSET) - set(unset_params()))
    assert not stale, f"ALLOWED_UNSET entries that are passed or gone: {stale}"


def test_every_package_import_is_read():
    unused = unused_imports()
    assert not unused, (
        f"imports no package module reads: {unused}. Delete them, or mark a "
        "deliberate side-effect import with '# noqa: F401'"
    )


def _scratch_package(tmp_path: Path, source: str) -> Path:
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text(source)
    return tmp_path


def test_scan_sees_an_added_orphan(tmp_path):
    """The closure is not vacuous: a def or a constant nothing names is
    reported, a dunder assignment stays a root."""
    repo = _scratch_package(
        tmp_path,
        "import os as _os\n"
        "__version__ = '1'\n"
        "SEP = _os.sep\n"
        "UNUSED = {'a': 1,\n          'b': 2}\n"
        "def used():\n    return SEP\n"
        "def orphan():\n    return 1\n"
        "REGISTRY = {'u': used}\n"
        "__all__ = ['REGISTRY']\n",
    )
    assert unreached_defs(repo) == {
        f"{PACKAGE}.mod:UNUSED": 2,
        f"{PACKAGE}.mod:orphan": 2,
    }


def test_param_gate_sees_an_option_only_a_test_sets(tmp_path):
    """Keyword, positional (``self`` skipped), ``*``/``**`` forwarding and
    constructor calls count as passing; a branching option nothing in
    the scan passes is reported."""
    repo = _scratch_package(
        tmp_path,
        "def f(x, fast=False, *, tag=None, n=1):\n"
        "    if fast:\n        return x\n"
        "    y = x if tag is None else tag\n"
        "    while n > 3:\n        n -= 1\n"
        "    return y\n"
        "class C:\n"
        "    def __init__(self, a, b=0):\n"
        "        self.a = a if b else -a\n"
        "    def go(self, deep=False):\n"
        "        return 1 if deep else 0\n"
        "def g(args, kw):\n"
        "    C(1).go()\n"
        "    f(1, *args)\n"
        "    return f(2, **kw), C(1, 2)\n"
        "__all__ = ['g']\n",
    )
    assert unset_params(repo) == [f"{PACKAGE}.mod:C.go.deep"]
    # an option only a test sets is still unset: tests are not scanned
    (repo / PACKAGE / "mod.py").write_text(
        "def f(x, fast=False):\n    return 1 if fast else x\n"
        "def g():\n    return f(1)\n"
        "__all__ = ['g']\n"
    )
    (repo / "tests").mkdir()
    (repo / "tests" / "test_mod.py").write_text(
        f"from {PACKAGE}.mod import f\n"
        "def test_f():\n    assert f(1, fast=True) == 1\n"
    )
    assert unset_params(repo) == [f"{PACKAGE}.mod:f.fast"]


def test_import_gate_sees_an_unused_import(tmp_path):
    repo = _scratch_package(
        tmp_path,
        "from __future__ import annotations\n"
        "import os\n"
        "import os.path\n"
        "from typing import Any, cast\n"
        "import json  # noqa: F401\n"
        "def f(x) -> Any:\n    return os.sep, x\n",
    )
    assert unused_imports(repo) == [f"{PACKAGE}.mod:cast"]


if __name__ == "__main__":
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else REPO
    found = unreached_defs(root)
    total = 0
    for key, n in sorted(found.items(), key=lambda kv: -kv[1]):
        allowed = _allow_entry(key) is not None
        total += 0 if allowed else n
        tag = "allowed" if allowed else "DEAD"
        print(f"{n:6d}  {tag:7s}  {key}")
    print(f"{total} unreached lines outside the allowlist", file=sys.stderr)
    unset = unset_params(root)
    for key in unset:
        print(f"{'allowed' if key in ALLOWED_UNSET else 'UNSET':7s}  {key}")
    n_unset = sum(k not in ALLOWED_UNSET for k in unset)
    print(f"{n_unset} unset branching options outside the allowlist", file=sys.stderr)
    unused = unused_imports(root)
    for key in unused:
        print(f"UNUSED   {key}")
    print(f"{len(unused)} unused imports", file=sys.stderr)
    sys.exit(1 if total or n_unset or unused else 0)
