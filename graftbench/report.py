"""Turn a finished run into the metrics that BENCHMARK.json names."""

from __future__ import annotations

import json
import os
import statistics

from spans import Tracer
from stats import mean, percentile, tail_mean

#: ``latency_tail_s`` is the mean latency beyond this percentile.
TAIL_Q = 80

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec(path: str = os.path.join(ROOT, "BENCHMARK.json")) -> dict:
    with open(path) as f:
        return json.load(f)


def end_to_end(ctx, setup_s: float) -> dict[str, float]:
    """Throughput is a unit's statements over its wall time, median over
    the timed units, so one slow unit cannot move it."""
    return {
        "setup_s": setup_s,
        "throughput_qps": statistics.median(u["statements"] / u["wall_s"] for u in ctx.units),
        "latency_p50_s": percentile(ctx.latencies, 50),
        "latency_tail_s": tail_mean(ctx.latencies, TAIL_Q),
        "heap_mb": ctx.heap_mb,
    }


def per_layer(ctx, tracer: Tracer) -> dict[str, float]:
    """Layer figures from the traced units; a layer the workload does not
    reach reads 0."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    own = tracer.self_times()

    def named(name, parent=None):
        return [s for s in spans if s.name == name and (parent is None or by_id[s.parent].name == parent)]

    def children_jobs(s):
        return sum(c.counters["jobs"] for c in spans if c.parent == s.id)

    builds = named("build", parent="query")
    plans = named("plan")
    execs = named("exec")
    updates = named("update")
    reads = named("read")
    statements = named("query") + reads
    exec_wall_ms = 1000 * sum(s.wall for s in execs)

    traced = [u for u in ctx.units if u["traced"]]
    untraced = [u for u in ctx.units if not u["traced"]]
    overhead = 0.0
    if traced and untraced:
        per_unit = mean([u["wall_s"] for u in traced]) - mean([u["wall_s"] for u in untraced])
        overhead = per_unit / mean([u["statements"] for u in traced])
    n_statements = sum(u["statements"] for u in ctx.units)

    out = {
        "session.bringup_s": named("get_session")[0].wall,
        "registry.build_s": mean([s.wall for s in builds]),
        "registry.build_jobs": mean([s.counters["jobs"] for s in builds]),
        "registry.build_hit_ratio": mean([float(s.counters["jobs"] == 0) for s in builds]),
        "plan.plan_s": mean([s.wall for s in plans]),
        "plan.exchanges": mean([s.attrs["exchanges"] for s in plans]),
        "exec.exec_s": mean([s.wall for s in execs]),
        "exec.core_util": (
            sum(s.counters["executor_run_ms"] for s in execs) / (exec_wall_ms * ctx.cores) if execs else 0.0
        ),
        "streaming.update_s": mean([s.wall for s in updates]),
        "streaming.update_jobs": mean([s.counters["jobs"] for s in updates]),
        "streaming.checkpoint_update_s": mean([s.wall for s in updates if s.attrs["checkpoint"]]),
        "snapshot.read_s": mean([s.wall for s in reads]),
        "snapshot.read_jobs": mean([children_jobs(s) for s in reads]),
        "cache.storage_mb": ctx.storage_mb,
        "jvm.gc_ms": ctx.gc_ms / n_statements,
        "jvm.heap_after_gc_mb": ctx.heap_mb,
        "trace.overhead_s": overhead,
        "statement.self_s": mean([own[s.id] for s in statements]),
    }
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "executor_cpu_ms"):
        out[f"exec.{key}"] = mean([s.counters[key] for s in execs])
    return out


#: Exec counters a warm unit repeats exactly from one unit to the next.
REPEATING = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")


def unit_counters(tracer: Tracer) -> dict[int, dict[str, int]]:
    """Per traced unit, the exec counters summed over its statements."""
    per: dict[int, dict[str, int]] = {}
    for s in tracer.spans:
        if s.name == "exec":
            acc = per.setdefault(s.unit, dict.fromkeys(REPEATING, 0))
            for k in acc:
                acc[k] += s.counters[k]
    return per


def result_line(values: dict[str, float], entries: list[dict], attempted: int, failed: int) -> str:
    """The run's last stdout line: every metric of ``entries`` with its unit."""
    missing = [e["name"] for e in entries if e["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {e["name"]: {"value": values[e["name"]], "unit": e["unit"]} for e in entries},
        }
    )
