"""Reach gate: every module under ``medacy_spark/`` and ``tools/`` is
imported, directly or through other modules, from an entry point of the
repo, and every function, class, method and module-level constant in
those modules is named by code that an entry point reaches, or sits on
an allow-list with the test that pins it and the reason it stays.

The walk reads the source with ``ast`` (nothing is imported or run), so
code that only tests, dead tools or other dead code reach shows up here
instead of growing unnoticed.

How a name is reached. The definitions are functions, classes, methods
and constants (a module-level assignment to one plain name). Reached from
the start: every definition in a root file, the other module-level
statements of every reached module, and every function registered by a
decorator call (the ``@q(...)`` contract queries). A definition is
reached when a reached body names it as a loaded name, an attribute, an
imported name, or a string constant that is exactly an identifier
(``perfbench/trace.py`` wraps its layers by string), so docstring prose
that mentions a name is not a use. Dunder methods are reached with their
class. Names are matched bare, without resolving
imports, so two definitions that share a name are reached together: a
collision can hide dead code, never report used code as dead.
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

# Unreached definitions kept on purpose: "module::name" -> (the test that
# pins it, why it stays). A reason is one of REASONS: it reproduces medaCy
# at the reference file:line SURVEY.md maps it to, and no reached function
# reproduces those lines; a test compares reached code against it; or the
# north star names it.
REASONS = ("reproduces medaCy", "test reference", "north star")
ALLOWED = {
    "medacy_spark/corpus/synth.py::gold_triples": (
        "tests/test_pipeline.py::test_triples_match_gold",
        "test reference: the gold extract_triples is compared against",
    ),
    "medacy_spark/operators/tokenize.py::tokenize_pandas": (
        "tests/test_tokenize.py::test_native_pandas_parity",
        "test reference: the Arrow-batched tokenizer tokenize_native must match",
    ),
    "medacy_spark/plans/skew.py::salted_repartition": (
        "tests/test_ops.py::test_salted_repartition_spreads_hot_host",
        "north star: BASELINE.json names salted repartitioning for skewed hosts",
    ),
    "medacy_spark/operators/annotations.py::lenient_difference": (
        "tests/test_annotations.py::test_lenient_window_join",
        "reproduces medaCy annotations.py:135-145 (SURVEY J5, difference); "
        "lenient_intersection reproduces 163-172",
    ),
    "medacy_spark/operators/features.py::detect_window_size": (
        "tests/test_features.py::test_detect_window_size",
        "reproduces medaCy nn/vectorizer.py:101-131 (SURVEY W8, find_window_size)",
    ),
    "medacy_spark/operators/mentions.py::lexicon_overlay": (
        "tests/test_matchers.py::test_lexicon_overlay_flags_every_token_in_span",
        "reproduces medaCy lexicon_component.py:44-52 (SURVEY J8, per-token "
        "flags); gazetteer_mentions reproduces only the matching",
    ),
    "medacy_spark/operators/overlay.py::overlay_metrics": (
        "tests/test_sources_folds_overlay.py::test_gold_overlay_and_repair",
        "reproduces medaCy gold_annotator_component.py:104-107 (SURVEY J7, "
        "failure accounting)",
    ),
    "medacy_spark/sources/metamap_json.py::read_metamap_json": (
        "tests/test_sources_folds_overlay.py::test_metamap_corrupt_flag",
        "reproduces medaCy dataset.py:150-155 (SURVEY S5, .metamapped file "
        "read and <200-byte corrupt flag); q_metamap_candidates builds its "
        "JSON in memory",
    ),
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


def _roots() -> set[str]:
    return {_rel(p) for pattern in ROOTS for p in REPO.glob(pattern)}


@cache
def _reached() -> frozenset[str]:
    todo = [REPO / r for r in _roots()]
    seen = set(todo)
    while todo:
        for dep in _imports(todo.pop()) - seen:
            seen.add(dep)
            todo.append(dep)
    return frozenset(_rel(p) for p in seen)


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _split(scope: ast.Module | ast.ClassDef):
    """A scope's statements that run when the scope runs, and its
    definitions as (name, nodes that run when the definition is reached,
    the ClassDef if it is one, whether a decorator call registers it).
    A function's decorators and defaults and a class's bases run with the
    scope; a constant is an assignment to one plain name."""
    eager, defs = [], []
    for stmt in scope.body:
        if isinstance(stmt, _DEFS):
            registered = any(isinstance(d, ast.Call) for d in stmt.decorator_list)
            eager += stmt.decorator_list
            if isinstance(stmt, ast.ClassDef):
                eager += stmt.bases + stmt.keywords
                defs.append((stmt.name, [], stmt, registered))
            else:
                eager += stmt.args.defaults + [d for d in stmt.args.kw_defaults if d]
                defs.append((stmt.name, [stmt], None, registered))
        elif (isinstance(stmt, ast.Assign) and len(stmt.targets) == 1
              and isinstance(stmt.targets[0], ast.Name) and not _dunder(stmt.targets[0].id)):
            defs.append((stmt.targets[0].id, [stmt.value], None, False))
        elif isinstance(stmt, ast.AnnAssign) and stmt.value and isinstance(stmt.target, ast.Name):
            defs.append((stmt.target.id, [stmt.value], None, False))
        else:
            eager.append(stmt)
    return eager, defs


def _mentions(nodes) -> set[str]:
    """Every name the nodes read: loaded names and attributes, imported
    names, and string constants that are exactly an identifier."""
    found = set()
    for node in (n for top in nodes for n in ast.walk(top)):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            found.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            found.add(node.attr)
        elif isinstance(node, ast.alias):
            found.update(node.name.split("."))
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            found.add(node.value)
    return found


def _unreached(trees: dict[str, ast.Module], roots: set[str]) -> set[str]:
    """"module::qualname" of every definition in a gated module of
    ``trees`` that no reached body names."""
    named: dict[str, list] = {}  # bare name -> units not reached yet
    gated, todo, seen = {}, [], set()

    def visit(module: str, scope, prefix: str, free: bool) -> None:
        eager, defs = _split(scope)
        todo.append(eager)
        for name, nodes, cls, registered in defs:
            unit = (nodes, cls, module, prefix + name)
            if free or registered or _dunder(name) or name in seen:
                reach(unit)
            else:
                named.setdefault(name, []).append(unit)
                if module.startswith(GATED):
                    gated[f"{module}::{prefix}{name}"] = name

    def reach(unit) -> None:
        nodes, cls, module, qualname = unit
        todo.append(nodes)
        if cls is not None:
            visit(module, cls, qualname + ".", False)

    for module, tree in trees.items():
        visit(module, tree, "", module in roots)
    while todo:
        for name in _mentions(todo.pop()) - seen:
            seen.add(name)
            for unit in named.pop(name, []):
                reach(unit)
    return {key for key, name in gated.items() if name not in seen}


def _trees(**replace: str) -> dict[str, ast.Module]:
    """Every reached module's parsed source; ``replace`` maps a module
    path to source text to parse in its place."""
    return {m: ast.parse(replace.get(m) or (REPO / m).read_text()) for m in _reached()}


@cache
def _found() -> frozenset[str]:
    return frozenset(_unreached(_trees(), _roots()))


def _test_exists(test: str) -> bool:
    test_file, test_name = test.split("::")
    if not (REPO / test_file).is_file():
        return False
    tree = ast.parse((REPO / test_file).read_text())
    return test_name in {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}


def test_every_module_is_reached_from_a_root():
    gated = {_rel(p) for top in GATED for p in (REPO / top).rglob("*.py")}
    unreached = sorted(gated - _reached())
    assert unreached == [], (
        f"{len(unreached)} module(s) no root imports: {unreached}. Import each "
        "from a root or delete it."
    )


def test_every_definition_is_reached_from_a_root():
    unreached = sorted(_found() - ALLOWED.keys())
    assert unreached == [], (
        f"{len(unreached)} definition(s) no root reaches: {unreached}. Call "
        "each from reached code, delete it with its tests, or add it to "
        "ALLOWED with the test that pins it and its reason."
    )


def test_allow_list_is_current():
    for key, (test, reason) in ALLOWED.items():
        assert key in _found(), f"allow-listed {key} is reached or gone; drop its entry"
        assert _test_exists(test), f"{key}'s pinning test {test} is gone"
        assert reason.startswith(REASONS), f"{key}: {reason!r} is not one of {REASONS}"


def test_gate_reports_planted_dead_code():
    """Planted in a reached module: a function nothing names is reported;
    so is one whose name only a reached docstring spells out, because
    prose is not a use; a constant nothing reads is reported, and so is
    what only its value names."""
    module = "medacy_spark/operators/packing.py"
    source = (REPO / module).read_text() + (
        "\n\ndef _planted_dead():\n    return 1\n"
        "\n\ndef _planted_doc_only():\n    return 2\n"
        '\n\ndef _planted_caller():\n    """Return 3, not _planted_doc_only()."""\n    return 3\n'
        "\n\n_planted_caller()\n"
        "\n\ndef _planted_named():\n    return 4\n"
        "\n\nPLANTED = _planted_named\n"
    )
    unreached = _unreached(_trees(**{module: source}), _roots())
    assert unreached - ALLOWED.keys() == {
        f"{module}::{name}" for name in
        ("_planted_dead", "_planted_doc_only", "_planted_named", "PLANTED")
    }
