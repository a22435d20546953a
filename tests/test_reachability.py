"""Dead-code gate: every top-level def in ``querysight_spark`` must be
reachable from an entry point, or sit on the reasoned allowlist below.

Pure AST, no Spark. The scan is a name-reference closure:

- roots are every module-level statement of the package other than defs
  and imports (the query registries, ``__all__``, module constants, the
  ``__main__`` guard of ``__main__.py``), every top-level def registered
  by a package decorator (the ``@_q`` query bodies), and the whole of
  ``__spark_entry__.py``, ``bench.py`` and ``perfbench/*.py``;
- a reached body marks every def it names, with import aliases resolved
  (``from m import f as g``, ``import m as M`` + ``M.f``, re-exports through
  a package ``__init__``); function-local imports count as well;
- a reached class reaches all of its methods.

Tests and tools are NOT roots: a def that only they call is dead package
code. Run as a script (``python tests/test_reachability.py [repo_root]``)
to print the unreached defs of any checkout.
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

_DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Module:
    def __init__(self, name: str, path: Path, is_pkg: bool, is_root: bool):
        self.name = name
        self.is_pkg = is_pkg
        self.is_root = is_root
        self.tree = ast.parse(path.read_text(), filename=str(path))
        self.defs: dict[str, ast.AST] = {
            n.name: n for n in self.tree.body if isinstance(n, _DEF_TYPES)
        }
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
            if isinstance(n, (ast.Import, ast.ImportFrom)):
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

    def _mark_attr(self, module: str, attr: str, seen: frozenset = frozenset()) -> None:
        """Mark ``module.attr``: a def there, or whatever a re-export names."""
        if (module, attr) in seen:
            return
        seen = seen | {(module, attr)}
        m = self.modules.get(module)
        if m is None:
            return
        if attr in m.defs:
            self._reach(module, attr)
        for target, sub in m.aliases.get(attr, ()):
            if sub is not None:
                self._mark_attr(target, sub, seen)

    def _resolve_chain(self, m: _Module, chain: list[str]) -> None:
        """Resolve ``a.b.c`` read in module ``m``: a local def, or an
        import alias followed attribute by attribute through modules."""
        head, rest = chain[0], chain[1:]
        if head in m.defs:
            self._reach(m.name, head)
        for module, attr in m.aliases.get(head, ()):
            if attr is not None:
                self._mark_attr(module, attr)
                continue
            cur = module
            for part in rest:
                sub = f"{cur}.{part}"
                if sub in self.modules:
                    cur = sub
                    continue
                self._mark_attr(cur, part)
                break

    def _scan_node(self, m: _Module, node: ast.AST) -> None:
        for n in ast.walk(node):
            if isinstance(n, ast.Attribute):
                chain = []
                cur: ast.AST = n
                while isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                if isinstance(cur, ast.Name):
                    self._resolve_chain(m, [cur.id] + chain[::-1])
            elif isinstance(n, ast.Name):
                self._resolve_chain(m, [n.id])
            elif (
                isinstance(n, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets)
            ):
                for c in ast.walk(n.value):
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        self._resolve_chain(m, [c.value])

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
        """``module:def -> line count`` for every unreached package def."""
        out = {}
        for m in self.modules.values():
            if m.is_root:
                continue
            for name, node in m.defs.items():
                if (m.name, name) not in self.reached:
                    out[f"{m.name}:{name}"] = node.end_lineno - node.lineno + 1
        return out


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


def test_every_package_def_is_reachable_or_allowlisted():
    unreached = unreached_defs()
    dead = {k: n for k, n in sorted(unreached.items()) if not _allow_entry(k)}
    assert not dead, (
        "package defs that no entry point reaches (only tests/tools call "
        f"them): {dead}. Delete them, or allowlist with a reason in "
        "tests/test_reachability.py"
    )


def test_allowlist_entries_are_still_unreached():
    used = {_allow_entry(k) for k in unreached_defs()}
    stale = sorted(set(ALLOWED_UNREACHED) - used)
    assert not stale, f"allowlist entries that are reached or gone: {stale}"


def test_scan_sees_an_added_orphan(tmp_path):
    """The closure is not vacuous: a def nothing names is reported."""
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text(
        "import os as _os\n"
        "def used():\n    return _os.sep\n"
        "def orphan():\n    return 1\n"
        "REGISTRY = {'u': used}\n"
    )
    assert unreached_defs(tmp_path) == {f"{PACKAGE}.mod:orphan": 2}


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
    sys.exit(1 if total else 0)
