"""Every public definition in the package is reached from something that
serves it: the query registry, the CLI, the top-level ``__all__``, or a
script outside the package (``bench.py``, ``__spark_entry__.py``,
``tools/``, ``perfbench/``).

The scan is static (``ast``), so it needs no Spark session. It counts only
real references: names, attributes, imports and the top-level ``__all__``
strings; docstrings and comments never count, and tests are not roots.

- Roots: the whole of each script outside the package; every
  ``@register`` builder; every definition in ``__main__.py``; the
  module-level statements of every package module (other than its
  ``def``/``class``/``import`` statements); the names of the top-level
  ``__all__``; and ``KEPT``.
- A module-level ``import`` binds a name; it is not a use. A reference to
  the bound name resolves through it (and through any re-export chain) to
  the definition it names.
- A definition's own references (body, decorators, defaults) count only
  once the definition itself is reached, so a cluster of definitions that
  only call each other is dead as a whole.

Run ``python tests/test_reachability.py`` to print the unreached
definitions, private ones included.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "github_etl_pipeline_spark"

# Definitions nothing in the package serves today that stay on purpose.
# Each is a root, so the helpers it uses stay with it.
KEPT = {
    "pool_extended_stats": (
        "the paper's R10/R12-R15 per-pool statistics surface, read through "
        "the one pool reader"
    ),
    "assert_dim_unambiguous": "an input check on the outside game lookup",
    "embedding_dup_pairs": (
        "the exact pairwise reference that the LSH embedding-dedup tests "
        "compare the served embedding_dup_pairs_lsh against"
    ),
    "minhash_bands_for_recall": (
        "the banding planner that the MinHash recall tests compare the "
        "served banding against"
    ),
    "fake_decode": (
        "the deterministic stand-in decoder that extract_features and "
        "audio_features fall back to"
    ),
}


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path):
        self.path = path
        self.name = _module_name(path)
        self.is_package = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, ast.AST] = {}
        self.aliases: dict[str, tuple[str, str | None]] = {}
        self.statements: list[ast.stmt] = []
        self._collect(self.tree.body)
        # every name a module-level statement assigns (constants included)
        self.bound = set(self.defs) | set(self.aliases) | {
            node.id
            for stmt in self.statements
            if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign))
            for node in ast.walk(stmt)
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store)
        }

    def _collect(self, body: list[ast.stmt]) -> None:
        for stmt in body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[stmt.name] = stmt
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for bound, target in self.import_targets(stmt):
                    self.aliases[bound] = target
            elif isinstance(stmt, (ast.If, ast.Try)):
                nested = list(stmt.body) + list(stmt.orelse)
                nested += [s for h in getattr(stmt, "handlers", []) for s in h.body]
                nested += list(getattr(stmt, "finalbody", []))
                imports = [s for s in nested if isinstance(s, (ast.Import, ast.ImportFrom))]
                self._collect(imports)
                self.statements.append(stmt)
            else:
                self.statements.append(stmt)

    def import_targets(self, stmt: ast.Import | ast.ImportFrom):
        """Yield (bound name, (module, name or None)) for one import."""
        if isinstance(stmt, ast.Import):
            for a in stmt.names:
                if a.asname:
                    yield a.asname, (a.name, None)
                else:
                    top = a.name.split(".")[0]
                    yield top, (top, None)
            return
        base = stmt.module or ""
        if stmt.level:
            pkg = self.name.split(".")
            if not self.is_package:
                pkg = pkg[:-1]
            pkg = pkg[: len(pkg) - stmt.level + 1]
            base = ".".join(pkg + ([base] if base else []))
        for a in stmt.names:
            yield a.asname or a.name, (base, a.name)


class _Scan:
    def __init__(self, kept=KEPT):
        self.kept = kept
        pkg_files = sorted((REPO / PKG).rglob("*.py"))
        root_files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
        root_files += sorted((REPO / "tools").glob("*.py"))
        root_files += sorted((REPO / "perfbench").glob("*.py"))
        self.modules: dict[str, _Module] = {}
        for p in pkg_files:
            m = _Module(p)
            self.modules[m.name] = m
        self.root_modules = [_Module(p) for p in root_files if p.exists()]
        self.reached: set[tuple[str, str]] = set()

    # -- resolution ---------------------------------------------------------

    def resolve(self, module: str, name: str | None, seen=None):
        """Return ("def", mod, name), ("module", mod) or None (outside)."""
        if name is None:
            return ("module", module) if module in self.modules else None
        seen = seen or set()
        if (module, name) in seen:
            return None
        seen.add((module, name))
        m = self.modules.get(module)
        if m is None:
            return None
        if name in m.defs:
            return ("def", module, name)
        if name in m.aliases:
            return self.resolve(*m.aliases[name], seen)
        if f"{module}.{name}" in self.modules:
            return ("module", f"{module}.{name}")
        return None

    def _lookup(self, mod: _Module, name: str, local: dict):
        if name in local:
            return self.resolve(*local[name])
        return self.resolve(mod.name, name)

    def references(self, mod: _Module, nodes) -> set[tuple[str, str]]:
        """The package definitions that ``nodes`` (AST nodes of ``mod``) use."""
        out: set[tuple[str, str]] = set()
        # imports inside a function bind names for the rest of its body
        local = {
            bound: target
            for top in nodes
            for node in ast.walk(top)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for bound, target in mod.import_targets(node)
        }

        def add(target):
            if target and target[0] == "def":
                out.add((target[1], target[2]))

        def attr_chain(node):
            parts = []
            while isinstance(node, ast.Attribute):
                parts.append(node.attr)
                node = node.value
            if isinstance(node, ast.Name):
                return node.id, parts[::-1]
            return None, None

        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    add(self._lookup(mod, node.id, local))
                elif isinstance(node, ast.Attribute):
                    base, attrs = attr_chain(node)
                    if base is None:
                        continue
                    target = self._lookup(mod, base, local)
                    for attr in attrs:
                        if not target or target[0] != "module":
                            break
                        target = self.resolve(target[1], attr)
                        add(target)
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    for _, (m, n) in mod.import_targets(node):
                        add(self.resolve(m, n))
        return out

    # -- fixed point ----------------------------------------------------------

    def roots(self) -> set[tuple[str, str]]:
        roots: set[tuple[str, str]] = set()
        for mod in self.root_modules:
            roots |= self.references(mod, mod.tree.body)
        for mod in self.modules.values():
            roots |= self.references(mod, mod.statements)
            for name, node in mod.defs.items():
                if mod.name == f"{PKG}.__main__" or _is_registered(node):
                    roots.add((mod.name, name))
        top = self.modules[PKG]
        for stmt in top.statements:
            if isinstance(stmt, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
            ):
                for elt in stmt.value.elts:
                    target = self.resolve(PKG, elt.value)
                    if target and target[0] == "def":
                        roots.add((target[1], target[2]))
        for name in self.kept:
            roots.add(self.find(name))
        return roots

    def find(self, name: str) -> tuple[str, str]:
        hits = [(m.name, name) for m in self.modules.values() if name in m.defs]
        assert len(hits) == 1, f"{name!r} is defined {len(hits)} times: {hits}"
        return hits[0]

    def run(self) -> set[tuple[str, str]]:
        todo = list(self.roots())
        while todo:
            key = todo.pop()
            if key in self.reached:
                continue
            self.reached.add(key)
            mod = self.modules[key[0]]
            todo.extend(self.references(mod, [mod.defs[key[1]]]) - self.reached)
        return self.reached

    def unreached(self, public_only: bool = True) -> list[str]:
        reached = self.run()
        return sorted(
            f"{m.name}.{name}"
            for m in self.modules.values()
            for name in m.defs
            if (m.name, name) not in reached and not (public_only and name.startswith("_"))
        )


def _is_registered(node) -> bool:
    for dec in getattr(node, "decorator_list", []):
        func = dec.func if isinstance(dec, ast.Call) else dec
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
        if name == "register":
            return True
    return False


def test_every_public_definition_is_reached():
    unreached = _Scan().unreached()
    assert not unreached, (
        "public definitions that no registry query, CLI, __all__ name, script "
        "or KEPT entry reaches (delete them, or serve them):\n  " + "\n  ".join(unreached)
    )


def test_kept_names_are_otherwise_unreached():
    """A KEPT name that something starts to serve leaves KEPT."""
    scan = _Scan(kept={})
    unreached = scan.unreached()
    served = [name for name in KEPT if ".".join(scan.find(name)) not in unreached]
    assert not served, f"served now, drop from KEPT: {served}"


def test_scripts_import_names_that_exist():
    """Every ``from github_etl_pipeline_spark... import name`` in a script
    outside the package resolves, including imports inside functions that
    run only on some paths (perfbench's traced probes)."""
    scan = _Scan()
    checked, broken = 0, []
    for mod in scan.root_modules:
        for node in ast.walk(mod.tree):
            if not isinstance(node, ast.ImportFrom) or not (node.module or "").startswith(PKG):
                continue
            for a in node.names:
                checked += 1
                m = scan.modules.get(node.module)
                ok = m is not None and (
                    a.name in m.bound or f"{node.module}.{a.name}" in scan.modules
                )
                if not ok:
                    broken.append(f"{mod.path.relative_to(REPO)}:{node.lineno} {node.module}.{a.name}")
    assert checked > 0
    assert not broken, "imports that no longer resolve:\n  " + "\n  ".join(broken)


def _text_reads(tree: ast.AST, in_sources: bool):
    """Line numbers in ``tree`` of a Spark text-source read, and in a
    ``sources/`` module of a ``monotonically_increasing_id`` call."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            func, args = node.func, [*node.args, *(k.value for k in node.keywords)]
            text_arg = any(isinstance(a, ast.Constant) and a.value == "text" for a in args)
            by_format = text_arg and func.attr in ("format", "load")
            by_text = func.attr == "text" and getattr(func.value, "attr", None) == "read"
            if by_format or by_text:
                yield node.lineno
        if in_sources and (
            getattr(node, "attr", getattr(node, "id", None)) == "monotonically_increasing_id"
            or isinstance(node, ast.Constant)
            and "monotonically_increasing_id(" in str(node.value)
        ):
            yield node.lineno


def test_pool_bytes_have_one_reader():
    """``sources.pol.count_pol_files`` is the one reader of pool files:
    no package module reads through Spark's text source, and no line
    order in ``sources/`` comes from ``monotonically_increasing_id``."""
    found = [
        f"{path.relative_to(REPO)}:{line}"
        for path in sorted((REPO / PKG).rglob("*.py"))
        for line in _text_reads(ast.parse(path.read_text()), path.parent.name == "sources")
    ]
    assert not found, "text-source reads or scan-order ids:\n  " + "\n  ".join(found)


def test_package_import_loads_only_the_served_operators():
    code = (
        f"import sys, {PKG}; "
        f"print(' '.join(sorted(m for m in sys.modules if m.startswith('{PKG}.operators.'))))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()
    loaded = {m.rsplit(".", 1)[1] for m in out}
    assert loaded <= {"classify", "kpis", "rollup"}, sorted(loaded)


if __name__ == "__main__":
    for line in _Scan().unreached(public_only=False):
        print(line)
