"""Reach gate: every module under ``medacy_spark/`` and ``tools/`` is
imported, directly or through other modules, from an entry point of the
repo, or sits on an allow-list with the test that pins its behaviour.

The walk reads import statements with ``ast`` (nothing is imported or
run), so a module that only tests, dead tools or other dead modules
import shows up here instead of growing unnoticed.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
GATED = ("medacy_spark", "tools")

# The entry points: the driver contract, the bench harnesses, the jobs,
# the medaCy CLI (`python -m medacy_spark`), and the standalone tools
# that CLAUDE.md names as procedures.
ROOTS = (
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "jobs/*.py",
    "perfbench/*.py",
    "medacy_spark/__main__.py",
    "tools/oracle_check.py",
    "tools/steady_state.py",
    "tools/scaling_bench.py",
    "tools/make_*_fixture.py",
)

# Where an absolute import is looked up: the repo root, and tools/, which
# bench.py puts on sys.path and which is a tools script's own directory.
SEARCH = (REPO, REPO / "tools")

# Unreached modules kept on purpose: module -> the test that pins it.
ALLOWED = {
    "medacy_spark/streaming/incremental.py":
        "tests/test_streaming_incremental.py::test_incremental_dedup_stream",
}


def _resolve(dotted: str) -> Path | None:
    parts = dotted.split(".")
    for base in SEARCH:
        for path in (base.joinpath(*parts).with_suffix(".py"),
                     base.joinpath(*parts, "__init__.py")):
            if path.is_file():
                return path
    return None


def _imports(path: Path) -> set[Path]:
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                # the file's own package, then one package up per extra dot
                pkg = list(path.relative_to(REPO).parts[: -node.level])
                base = ".".join(pkg + ([node.module] if node.module else []))
            else:
                base = node.module
            # `from pkg import name`: name may be a submodule
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            # importing a.b.c runs a/__init__.py and a/b/__init__.py too
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                hit = _resolve(".".join(parts[:i]))
                if hit is not None:
                    found.add(hit)
    return found


def _rel(path: Path) -> str:
    return path.relative_to(REPO).as_posix()


@cache
def _reached() -> frozenset[str]:
    todo = [p for pattern in ROOTS for p in REPO.glob(pattern)]
    seen = set(todo)
    while todo:
        for dep in _imports(todo.pop()) - seen:
            seen.add(dep)
            todo.append(dep)
    return frozenset(_rel(p) for p in seen)


def test_every_module_is_reached_from_a_root():
    gated = {_rel(p) for top in GATED for p in (REPO / top).rglob("*.py")}
    covered = set()
    for module in ALLOWED:
        parts = module.split("/")
        covered.add(module)
        covered.update("/".join(parts[:i] + ["__init__.py"]) for i in range(1, len(parts)))
    unreached = sorted(gated - _reached() - covered)
    assert unreached == [], (
        f"{len(unreached)} module(s) no root imports: {unreached}. Import each "
        "from a root, delete it, or add it to ALLOWED with the test that pins it."
    )


def test_allow_list_is_current():
    for module, test in ALLOWED.items():
        assert (REPO / module).is_file(), f"allow-listed {module} is gone"
        assert module not in _reached(), f"allow-listed {module} is reached; drop its entry"
        test_file, test_name = test.split("::")
        assert (REPO / test_file).is_file(), f"{module}'s pinning test {test} is gone"
        tree = ast.parse((REPO / test_file).read_text())
        defs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        assert test_name in defs, f"{module}'s pinning test {test} is gone"
