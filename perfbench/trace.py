"""Layer spans for the traced run, recorded from the benchmark's own files.

``install`` replaces each layer function listed in ``WRAPPED`` with a
wrapper on its module, so callers that look the function up at call time
(intra-module calls, and the in-function imports of ``contract.py`` and
``dedup_corpus``) go through it. While the tracer is
active, a wrapper:

  * opens a span (name = layer, start, end, parent = enclosing span);
  * sets the Spark job group to the span id, so the event log ties every
    job and stage to the innermost span;
  * forces each DataFrame it returns (persist + count) before the span
    closes, so execution is billed to the layer that defines it rather
    than to whichever later action would have run it.

While inactive, a wrapper is a plain call, so untraced runs pay one extra
Python frame per layer call and nothing else.
"""

from __future__ import annotations

import importlib
import inspect
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.eventlog import Span

LAYERS = [
    "html", "tokenize", "mentions", "linking", "relations", "checkpoint",
    "graph.canonicalize", "graph.cc", "graph.materialize", "graph.pagerank",
    "textstats", "pii", "lm", "dedup", "ingest", "packing",
]

# (module, function, layer, count the first DataFrame argument)
WRAPPED = [
    ("medacy_spark.functions.html", "extract_text_expr", "html", False),
    ("medacy_spark.operators.tokenize", "tokenize_native", "tokenize", False),
    ("medacy_spark.operators.mentions", "detect_mentions", "mentions", True),
    ("medacy_spark.operators.linking", "link_mentions", "linking", True),
    ("medacy_spark.operators.relations", "extract_triples", "relations", False),
    ("medacy_spark.plans.checkpoint", "run_stage_checkpointed", "checkpoint", False),
    ("medacy_spark.operators.graph", "canonicalize_triples", "graph.canonicalize", False),
    ("medacy_spark.operators.graph", "connected_components", "graph.cc", False),
    ("medacy_spark.operators.graph", "materialize_nodes_edges", "graph.materialize", False),
    ("medacy_spark.operators.graph", "pagerank", "graph.pagerank", False),
    ("medacy_spark.operators.textstats", "repetition_signals", "textstats", False),
    ("medacy_spark.operators.textstats", "quality_score", "textstats", False),
    ("medacy_spark.operators.pii", "redact_pii", "pii", False),
    ("medacy_spark.operators.pii", "pii_signals", "pii", False),
    ("medacy_spark.operators.lm", "train_ngram_lm", "lm", False),
    ("medacy_spark.operators.lm", "score_perplexity", "lm", False),
    ("medacy_spark.operators.dedup", "dedup_corpus", "dedup", True),
    ("medacy_spark.operators.dedup", "minhash_lsh_candidates", "dedup", False),
    ("medacy_spark.operators.dedup", "band_table", "dedup", False),
    ("medacy_spark.operators.dedup", "dedup_batch_against_state", "ingest", True),
    ("medacy_spark.operators.packing", "pack_sequences", "packing", False),
    ("medacy_spark.operators.packing", "packing_stats", "packing", False),
]


class Tracer:
    """Spans and boundary counts of one traced run; inert until ``active``."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.rows_out: dict[str, int] = {}  # span id -> rows of forced outputs
        self.rows_in: dict[str, int] = {}  # span id -> rows of first input
        self.counts: dict[str, float] = {}  # named boundary counts
        self._sc = None
        self._stack: list[tuple[str, str]] = []
        self._forced: list[DataFrame] = []
        self._originals: list[tuple[object, str, Callable]] = []
        self._n = 0

    # -- spans ---------------------------------------------------------
    def start(self, sc) -> None:
        self._sc = sc
        self.active = True

    def stop(self) -> None:
        self.active = False
        self.release()

    @contextmanager
    def span(self, name: str) -> Iterator[str | None]:
        if not self.active:
            yield None
            return
        self._n += 1
        sid = f"perfbench-{self._n}"
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._sc.setJobGroup(sid, name)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(sid, name, parent, start, end))
            if self._stack:
                self._sc.setJobGroup(*self._stack[-1])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def force(self, sid: str | None, out):
        """Run every DataFrame in ``out`` now, keeping it cached for its
        consumers; returns ``out`` unchanged."""
        if sid is None:
            return out
        if isinstance(out, DataFrame):
            out.persist()
            self._forced.append(out)
            self.rows_out[sid] = self.rows_out.get(sid, 0) + out.count()
        elif isinstance(out, (tuple, list)):
            for x in out:
                self.force(sid, x)
        elif isinstance(out, dict):
            for x in out.values():
                self.force(sid, x)
        return out

    def release(self) -> None:
        for df in self._forced:
            df.unpersist()
        self._forced.clear()

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    # -- wrapping ------------------------------------------------------
    def install(self) -> None:
        for mod_name, fn_name, layer, count_input in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name)
            self._originals.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrap(fn, layer, count_input))

    def uninstall(self) -> None:
        for mod, fn_name, fn in reversed(self._originals):
            setattr(mod, fn_name, fn)
        self._originals.clear()

    def _wrap(self, fn: Callable, layer: str, count_input: bool) -> Callable:
        hook = _HOOKS.get(fn.__name__)

        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            n_in = None
            if count_input and args and isinstance(args[0], DataFrame):
                n_in = args[0].count()
            with self.span(layer) as sid:
                if n_in is not None:
                    self.rows_in[sid] = n_in
                out = self.force(sid, fn(*args, **kwargs))
                if hook is not None:
                    hook(self, sid, out, args, kwargs)
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        wrapper.__doc__ = fn.__doc__
        return wrapper


def _in_out(rows_in: str, rows_out: str):
    def hook(tracer: Tracer, sid: str, out, args, kwargs) -> None:
        tracer.add(rows_in, tracer.rows_in.get(sid, 0))
        tracer.add(rows_out, tracer.rows_out.get(sid, 0))

    return hook


def _candidate_pairs(tracer: Tracer, sid: str, pairs: DataFrame, args, kwargs) -> None:
    """All minhash candidate pairs, and those that pass dedup_corpus's
    pair filter (``min_bands`` shared bands, or a hot band)."""
    from medacy_spark.operators import dedup

    min_bands = inspect.signature(dedup.dedup_corpus).parameters["min_bands"].default
    keep = F.col("n_bands") >= min_bands
    if "n_hot_bands" in pairs.columns:
        keep = keep | (F.col("n_hot_bands") > 0)
    row = pairs.agg(F.count("*").alias("n"), F.sum(keep.cast("long")).alias("kept")).collect()[0]
    tracer.add("dedup.candidate_pairs", row["n"])
    tracer.add("dedup.pairs_kept", row["kept"] or 0)


def _batch_survivors(tracer: Tracer, sid: str, out, args, kwargs) -> None:
    survivors, new_state = out
    tracer.add("dedup.docs_in", tracer.rows_in.get(sid, 0))
    tracer.add("dedup.survivors", survivors.count())
    tracer.add("ingest.state_rows", new_state.count())


def _packing_fill(tracer: Tracer, sid: str, packed: DataFrame, args, kwargs) -> None:
    seq_len = kwargs.get("seq_len", args[1] if len(args) > 1 else None)
    row = packed.agg(
        F.sum("n_tokens").alias("t"), F.countDistinct("seq_id").alias("n")
    ).collect()[0]
    tracer.add("packing.doc_tokens", row["t"] or 0)
    tracer.add("packing.capacity", row["n"] * seq_len)


_HOOKS = {
    "detect_mentions": _in_out("mentions.in", "mentions.out"),
    "link_mentions": _in_out("linking.in", "linking.out"),
    "dedup_corpus": _in_out("dedup.docs_in", "dedup.survivors"),
    "minhash_lsh_candidates": _candidate_pairs,
    "dedup_batch_against_state": _batch_survivors,
    "pack_sequences": _packing_fill,
}
