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

Parameters. Every parameter of a reached function or method in a gated
module is read by its body (rule B), and one with a default is passed
by some reached call (rule A): by keyword, by position, or through a
``*`` / ``**`` argument, matched by the bare name of the callee (an
import alias counts as the name it imports; a class called counts as a
call of its ``__init__``). Test calls do not count. So an option no
entry point sets shows up here, and with it the code only its other
values would run.
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

# Parameters of reached code kept although no reached call sets them (or
# the body never reads them): "module::qualname(param)" -> (the test that
# pins it, why it stays). A reason is one of PARAM_REASONS: the three of
# REASONS, or a test hook — a test sets the value so that, at test
# scale, it reaches or observes behaviour that entry points also run.
PARAM_REASONS = REASONS + ("test hook",)
ALLOWED_PARAMS = {
    "medacy_spark/session.py::get_spark(shuffle_partitions)": (
        "tests/conftest.py::spark",
        "test hook: the test session's partition count; entry points keep "
        "the core-count default",
    ),
    "medacy_spark/operators/boilerplate.py::remove_boilerplate_lines(broadcast_max_lines)": (
        "tests/test_boilerplate.py::test_hash_key_matches_exact_key_and_shuffle_fallback",
        "test hook: 0 forces the shuffle side of the counted broadcast at "
        "test scale",
    ),
    "medacy_spark/operators/decontam.py::ngram_contamination(broadcast_max_grams)": (
        "tests/test_ops.py::test_ngram_contamination_broadcast_bounded",
        "test hook: 0 forces the shuffle side of the counted broadcast at "
        "test scale",
    ),
    "medacy_spark/operators/graph.py::materialize_nodes_edges(broadcast_max_terms)": (
        "tests/test_plans.py::test_term_canon_broadcast_is_bounded",
        "test hook: 0 forces the shuffle side of the counted broadcast at "
        "test scale",
    ),
    "medacy_spark/operators/graph.py::connected_components(stats)": (
        "tests/test_graph.py::test_pointer_jumping_convergence",
        "test hook: observes the rounds and side the operator ran",
    ),
    "medacy_spark/operators/graph.py::pagerank(stats)": (
        "tests/test_plans.py::test_pagerank_iteration_plan_is_constant",
        "test hook: observes the rounds and side the operator ran",
    ),
    "medacy_spark/operators/graph.py::bfs_distances(stats)": (
        "tests/test_webtext_ops.py::test_bfs_multi_seed_min_and_early_stop",
        "test hook: observes the rounds the operator ran",
    ),
    "medacy_spark/operators/graph.py::triangle_counts(stats)": (
        "tests/test_graph.py::test_triangle_counts_hub_no_fanout",
        "test hook: observes the hub split the operator made",
    ),
    "medacy_spark/operators/dedup.py::simhash_candidates(max_bucket_size)": (
        "tests/test_dedup_similarity.py::test_hot_bucket_guard_star_topology_small",
        "test hook: the hot-bucket cap is on by default; 3 trips it at "
        "test scale",
    ),
    "medacy_spark/operators/dedup.py::dedup_batch_against_state(max_bucket_size)": (
        "tests/test_dedup_similarity.py::test_incremental_dedup_hot_state_bucket",
        "test hook: the hot-bucket cap is on by default; 10 trips it at "
        "test scale",
    ),
    "medacy_spark/operators/dedup.py::dedup_batch_against_state(min_bands)": (
        "tests/test_dedup_similarity.py::test_incremental_dedup_hot_state_bucket",
        "test hook: 9 (above the 8 bands) isolates the hot-bucket "
        "rejection that entry points also run",
    ),
    "medacy_spark/operators/dedup.py::ngram_jaccard_pairs(max_shingle_df)": (
        "tests/test_dedup_similarity.py::test_ngram_jaccard_hot_shingle_cap",
        "test hook: the hot-shingle cap is on by default; 2 trips it at "
        "test scale (None is the exact reference)",
    ),
    "medacy_spark/operators/embeddings_train.py::train_word_vectors(dim)": (
        "tests/test_embeddings_train.py::test_train_word_vectors_vocab_from_token_stream",
        "test hook: a 4-wide SVD fits the test's 13-word vocabulary; the "
        "same path runs at DIM",
    ),
    "medacy_spark/operators/embeddings_train.py::train_word_vectors(window)": (
        "tests/test_embeddings_train.py::test_train_word_vectors_vocab_from_token_stream",
        "test hook: a 2-token window on the test's short sentences; the "
        "same path runs at WINDOW",
    ),
    "medacy_spark/operators/features.py::extract_feature_tuples(feature_cols)": (
        "tests/test_features.py::test_feature_tuples_window",
        "reproduces medaCy discrete_feature_extractor.py:22-23,97-104 "
        "(SURVEY P9, the configured spaCy feature set)",
    ),
    "medacy_spark/operators/overlay.py::gold_overlay(order_col)": (
        "tests/test_sources_folds_overlay.py::test_gold_overlay_order_col_breaks_exact_ties",
        "reproduces medaCy annotations.py:71-73 (SURVEY J7, the stable "
        "sort that lets the later span in file order win a tie)",
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


def _walk(trees: dict[str, ast.Module], roots: set[str]):
    """Walk what the roots reach in ``trees``. Returns the gated
    definitions as "module::qualname" -> bare name, the names reached
    bodies read, the reached units as (nodes, ClassDef or None, module,
    qualname, registered), and the reached node lists."""
    named: dict[str, list] = {}  # bare name -> units not reached yet
    gated, todo, seen, units, bodies = {}, [], set(), [], []

    def visit(module: str, scope, prefix: str, free: bool) -> None:
        eager, defs = _split(scope)
        todo.append(eager)
        for name, nodes, cls, registered in defs:
            unit = (nodes, cls, module, prefix + name, registered)
            if free or registered or _dunder(name) or name in seen:
                reach(unit)
            else:
                named.setdefault(name, []).append(unit)
                if module.startswith(GATED):
                    gated[f"{module}::{prefix}{name}"] = name

    def reach(unit) -> None:
        nodes, cls, module, qualname, _ = unit
        units.append(unit)
        todo.append(nodes)
        if cls is not None:
            visit(module, cls, qualname + ".", False)

    for module, tree in trees.items():
        visit(module, tree, "", module in roots)
    while todo:
        nodes = todo.pop()
        bodies.append(nodes)
        for name in _mentions(nodes) - seen:
            seen.add(name)
            for unit in named.pop(name, []):
                reach(unit)
    return gated, seen, units, bodies


def _unreached(trees: dict[str, ast.Module], roots: set[str]) -> set[str]:
    """"module::qualname" of every definition in a gated module of
    ``trees`` that no reached body names."""
    gated, seen, _, _ = _walk(trees, roots)
    return {key for key, name in gated.items() if name not in seen}


def _callee(call: ast.Call) -> str | None:
    func = call.func
    return func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)


def _uses(bodies):
    """What reached bodies do with names: the calls made by each bare
    name (an import alias counts as the name it imports), and the names
    used as values rather than called: loaded without a call, or looked
    up by a string with ``getattr``. Other identifier strings are not
    values here: in reached code they are query names, labels and
    columns, and ``perfbench/trace.py``'s ``WRAPPED`` wrapper forwards
    its callers' arguments unchanged, so the calls that reach a wrapped
    function are the ones that name it."""
    calls, values, aliases, called = {}, set(), {}, set()
    for node in (n for nodes in bodies for top in nodes for n in ast.walk(top)):
        if isinstance(node, ast.Call):
            called.add(id(node.func))  # ast.walk yields a call before its func
            calls.setdefault(_callee(node), []).append(node)
            if _callee(node) in ("getattr", "hasattr", "setattr"):
                values.update(a.value for a in node.args
                              if isinstance(a, ast.Constant) and isinstance(a.value, str))
        elif isinstance(node, ast.alias) and node.asname:
            aliases[node.asname] = node.name.split(".")[-1]
        elif id(node) in called:
            continue
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            values.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            values.add(node.attr)
    for alias, name in aliases.items():
        calls.setdefault(name, []).extend(calls.get(alias, []))
        if alias in values:
            values.add(name)
    return calls, values


def _sets(call: ast.Call, index: int | None, param: str, offset: int) -> bool:
    """Whether ``call`` passes ``param`` (at positional ``index``, None
    if keyword-only), counting a ``*`` or ``**`` argument as passing
    everything. ``offset`` is 1 for a method's bound ``self``."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    return index is not None and index - offset < len(call.args)


def _dead_params(trees: dict[str, ast.Module], roots: set[str]) -> set[str]:
    """"module::qualname(param)" of every parameter of a reached gated
    function or method that no reached call sets although it has a
    default (rule A), or that the body never reads (rule B).

    Exempt: functions a decorator call registers, or that reached code
    uses as a value, since whoever calls them is not in sight; dunder
    methods other than ``__init__`` (called through syntax); and, from
    rule B only, a hook: a method name defined in two or more classes,
    whose signature is the hook's. A class name called counts as a call
    of its ``__init__``."""
    _, _, units, bodies = _walk(trees, roots)
    calls, values = _uses(bodies)
    methods: dict[str, int] = {}
    for _, cls, _, _, _ in units:
        for stmt in cls.body if cls is not None else ():
            if isinstance(stmt, _DEFS[:2]):
                methods[stmt.name] = methods.get(stmt.name, 0) + 1
    dead = set()
    for nodes, _, module, qualname, registered in units:
        fn = nodes[0] if nodes and isinstance(nodes[0], _DEFS[:2]) else None
        if fn is None or not module.startswith(GATED) or registered:
            continue
        name, owner = fn.name, qualname.rpartition(".")[0]
        if name in values or (_dunder(name) and name != "__init__"):
            continue
        if name == "__init__":
            if owner.rpartition(".")[2] in values:
                continue
            name = owner.rpartition(".")[2]
        static = any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)
        offset = 1 if owner and not static else 0
        args = fn.args
        positional = args.posonlyargs + args.args
        first_default = len(positional) - len(args.defaults)
        params = [(i, a.arg, i >= first_default) for i, a in enumerate(positional)][offset:]
        params += [(None, a.arg, d is not None) for a, d in zip(args.kwonlyargs, args.kw_defaults)]
        read = {n.id for stmt in fn.body for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        hook = owner and methods.get(fn.name, 0) > 1
        for index, param, has_default in params:
            unset = has_default and not any(
                _sets(c, index, param, offset) for c in calls.get(name, ()))
            if unset or (param not in read and not hook):
                dead.add(f"{module}::{qualname}({param})")
    return dead


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


def _stale(allowed: dict, found, reasons) -> list[str]:
    """Why each stale allow-list entry is stale: reached (or gone), its
    pinning test gone, or its reason not one of ``reasons``."""
    out = []
    for key, (test, reason) in allowed.items():
        if key not in found:
            out.append(f"allow-listed {key} is reached or gone; drop its entry")
        if not _test_exists(test):
            out.append(f"{key}'s pinning test {test} is gone")
        if not reason.startswith(reasons):
            out.append(f"{key}: {reason!r} is not one of {reasons}")
    return out


def test_allow_list_is_current():
    assert _stale(ALLOWED, _found(), REASONS) == []
    assert _stale(ALLOWED_PARAMS, _found_params(), PARAM_REASONS) == []
    # a stale parameter entry is caught
    key = "medacy_spark/operators/packing.py::pack_sequences(seq_len)"
    fake = {key: ("tests/test_packing.py::test_pack_matches_reference_walk",
                  "test hook: planted")}
    assert _stale(fake, _found_params(), PARAM_REASONS) == [
        f"allow-listed {key} is reached or gone; drop its entry"
    ]


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


@cache
def _found_params() -> frozenset[str]:
    return frozenset(_dead_params(_trees(), _roots()))


def test_every_parameter_is_set_and_read():
    dead = sorted(_found_params() - ALLOWED_PARAMS.keys())
    assert dead == [], (
        f"{len(dead)} parameter(s) that no reached call sets although they "
        f"have a default, or that the body never reads: {dead}. Make each "
        "the constant it always is (with the branches only other values "
        "take), or add it to ALLOWED_PARAMS with its test and reason."
    )


def test_gate_reports_planted_dead_parameters():
    """Planted in a reached module: a defaulted parameter no call sets
    and a parameter the body never reads are reported; one set by
    keyword, one set positionally and one reached through a ``**``
    call are not."""
    module = "medacy_spark/operators/packing.py"
    source = (REPO / module).read_text() + (
        "\n\ndef _planted(a, unread, by_pos=3, never=1, by_kw=2):\n"
        "    return a + never + by_kw + by_pos\n"
        "\n\ndef _planted_star(a, through=4):\n    return a + through\n"
        "\n\n_planted(0, 1, 2, by_kw=5)\n"
        "_planted_star(0, **{})\n"
    )
    dead = _dead_params(_trees(**{module: source}), _roots())
    assert {d for d in dead if "_planted" in d} == {
        f"{module}::_planted(unread)", f"{module}::_planted(never)"
    }
