"""The package stays at the surface that is run.

Every module under ``htmlparser_spark/`` must be reachable by imports
from one of four roots: the spark-submit job (``jobs/extract.py``),
the registered queries (``__spark_entry__.py``), the plan-inspection
helpers (``htmlparser_spark.plans``) and the benchmark
(``perfbench/run.py``, which starts its sessions through
``htmlparser_spark.session``). A module nothing reaches is dead weight
that tests alone keep alive.

The walk is static (``ast``): it follows module-level and
function-local imports, relative imports, and the parent packages an
import executes. No Spark is started.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "htmlparser_spark"
ROOTS = (ROOT / "jobs" / "extract.py", ROOT / "__spark_entry__.py",
         ROOT / PKG / "plans" / "__init__.py", ROOT / "perfbench" / "run.py")


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _imported_names(path: Path):
    """Dotted names an import statement in ``path`` may load: the
    module itself, and ``module.name`` for ``from module import name``
    (which loads a submodule when ``name`` is one)."""
    own = _module_name(path)
    package = own if path.name == "__init__.py" else own.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                mod = f"{base}.{node.module}" if node.module else base
            else:
                mod = node.module
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


def import_closure() -> set[Path]:
    seen: set[Path] = set()
    todo = list(ROOTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            parts = name.split(".")
            # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
            for i in range(1, len(parts) + 1):
                found = _module_file(".".join(parts[:i]))
                if found is not None and found not in seen:
                    todo.append(found)
    return seen


def test_every_package_module_is_reachable():
    reached = import_closure()
    modules = set((ROOT / PKG).rglob("*.py"))
    unreached = sorted(str(p.relative_to(ROOT)) for p in modules - reached)
    assert not unreached, (
        f"{len(unreached)} module(s) under {PKG}/ are not imported by "
        f"the jobs, the registered queries, plans/ or the benchmark: "
        f"{unreached}")

