"""Turn iterations, spans and the event log into the benchmark's metrics.

``END_TO_END`` and ``per_layer_spec`` name every metric a run emits;
perfbench/spec.py writes BENCHMARK.json from them.
"""

from __future__ import annotations

import statistics

from perfbench import eventlog
from perfbench.trace import LAYERS, Tracer

MB = 1024 * 1024

# name, unit, better, bound (the share of the parent's median by which a
# later change may make the metric worse)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]
# printed beside the result but not bounded: on a host shared with other
# tenants their run-to-run spread exceeds the largest bound allowed
WALL_CLOCK = [("wall_s", "s"), ("docs_per_s", "docs/s"), ("op_s.p50", "s")]

# ratio name -> (numerator count, denominator count)
RATIOS = {
    "mentions.per_token": ("mentions.out", "mentions.in"),
    "linking.linked_frac": ("linking.out", "linking.in"),
    "dedup.pairs_kept_frac": ("dedup.pairs_kept", "dedup.candidate_pairs"),
    "dedup.survivor_frac": ("dedup.survivors", "dedup.docs_in"),
    "packing.fill_frac": ("packing.doc_tokens", "packing.capacity"),
}

LAYER_METRICS = [
    ("self_s", "s"), ("jobs", "count"), ("outside_stage_s", "s"), ("shuffle_bytes", "bytes"),
]

# the per-layer metrics after the layer and ratio blocks: name, unit, better
EXTRA = [
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("ingest.state_rows", "count", "lower"),
    ("contract.jobs", "count", "lower"),
    ("contract.outside_stage_s", "s", "lower"),
    ("contract.persisted_rdds_left", "count", "lower"),
    ("contract.conf_changed", "count", "lower"),
    ("session.start_s", "s", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.layer_self_frac", "ratio", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.unattributed_jobs", "count", "lower"),
]


def per_layer_spec(query_names: list[str]) -> list[tuple[str, str, str]]:
    """(name, unit, better) of every metric a traced run emits."""
    out = [(f"{layer}.{m}", unit, "lower") for layer in LAYERS for m, unit in LAYER_METRICS]
    for name in RATIOS:
        out += [(name, "ratio", "higher"), (f"{name}.base", "count", "higher")]
    out += [(f"contract.{q}.wall_s", "s", "lower") for q in query_names]
    return out + EXTRA


def tail(values: list[float]) -> tuple[int, float] | None:
    """(percentile, value) for the highest percentile that still has at
    least ten samples beyond it; None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10
    return int(100 * k / n), sorted(values)[k - 1]


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(
    setups: list[float], iterations, latency_kinds, peak_bytes: int
) -> tuple[dict, dict]:
    """The bounded end-to-end metrics, and the wall-clock ones to print."""
    lat = [o.seconds for it in iterations for o in it.ops if o.kind in latency_kinds]
    values = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(it.wall_s for it in iterations),
        "docs_per_s": statistics.median(it.docs / it.wall_s for it in iterations),
        "op_s.p50": statistics.median(lat),
        "cpu_s": statistics.median(it.cpu_s for it in iterations),
        "peak_rss_mb": peak_bytes / MB,
    }
    return (
        {name: metric(values[name], unit) for name, unit, _, _ in END_TO_END},
        {name: metric(values[name], unit) for name, unit in WALL_CLOCK},
    )


def per_layer(
    tracer: Tracer, log: eventlog.EventLog, *, traced_wall: float, untraced_wall: float,
    session_start_s: float, contract_walls: dict[str, float], persisted_left: int,
    conf_changed: int, query_names: list[str],
) -> dict:
    stats = eventlog.span_stats(tracer.spans, log)
    values: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in stats if s.span.name == layer]
        for m, _ in LAYER_METRICS:
            values[f"{layer}.{m}"] = sum(getattr(s, m) for s in mine)

    counts = tracer.counts
    for name, (num, den) in RATIOS.items():
        base = counts.get(den, 0)
        values[name] = counts.get(num, 0) / base if base else 0.0
        values[f"{name}.base"] = base

    for q in query_names:
        values[f"contract.{q}.wall_s"] = contract_walls.get(q, 0.0)
    queries = [s.span for s in stats if s.span.name.startswith("contract.")]
    layer_self = sum(s.self_s for s in stats if s.span.name in LAYERS)
    values.update({
        "checkpoint.bytes_written": counts.get("checkpoint.bytes_written", 0),
        "ingest.state_rows": counts.get("ingest.state_rows", 0),
        "contract.jobs": sum(eventlog.jobs_within(log, (q.start, q.end)) for q in queries),
        "contract.outside_stage_s": sum(
            (q.end - q.start) - eventlog.stage_time_within(log, (q.start, q.end)) for q in queries
        ),
        "contract.persisted_rdds_left": persisted_left,
        "contract.conf_changed": conf_changed,
        "session.start_s": session_start_s,
        "trace.wall_s": traced_wall,
        # the share of the traced wall time the layers' self times cover;
        # at most 1, because self times of nested spans never overlap
        "trace.layer_self_frac": layer_self / traced_wall,
        "trace.overhead_frac": traced_wall / untraced_wall - 1.0,
        "trace.unattributed_jobs": eventlog.unattributed_jobs(tracer.spans, log),
    })
    return {name: metric(values[name], unit) for name, unit, _ in per_layer_spec(query_names)}
