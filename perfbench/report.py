"""Per-layer metrics and the "where the time goes" table, computed from a
traced run's spans and the Spark statistics attached to them."""

from __future__ import annotations

import statistics
import time

from perfbench.probe import Tracer, union_s
from perfbench.workloads import WORKLOADS

# epoch seconds -> perf_counter seconds (Spark reports job times as epoch)
_EPOCH_TO_PERF = time.perf_counter() - time.time()

# kind of ETL op -> the per-layer metric that sums its wall time
_KIND_METRIC = {
    "scd2_initial": "operators.scd2_initial_s",
    "scd2_merge": "operators.scd2_merge_s",
    "fact": "operators.fact_s",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _op_spans(tracer: Tracer, pass_span: dict) -> list[dict]:
    return [s for s in tracer.children(pass_span["id"]) if s["name"] == "op"]


def _child(tracer: Tracer, span: dict, name: str) -> dict | None:
    return next((c for c in tracer.children(span["id"]) if c["name"] == name), None)


def _named(tracer: Tracer, span: dict, name: str) -> list[dict]:
    return [s for s in tracer.subtree(span) if s["name"] == name]


def _eager_s(build: dict, stats: dict) -> float:
    """Part of the build span during which a build-group job ran."""
    clipped = [
        (max(lo + _EPOCH_TO_PERF, build["start"]), min(hi + _EPOCH_TO_PERF, build["end"]))
        for lo, hi in stats["intervals"]
    ]
    return union_s([iv for iv in clipped if iv[1] > iv[0]])


def op_breakdown(tracer: Tracer, op: dict) -> dict[str, float]:
    """An op's traced wall time split into disjoint parts that sum to it."""
    build, plan, execute = (_child(tracer, op, n) for n in ("build", "plan", "execute"))
    sink = sum(_dur(s) for s in _named(tracer, execute, "sinks.write"))
    eager = _eager_s(build, op["build_stats"])
    return {
        "build: eager jobs": eager,
        "build: python": _dur(build) - eager,
        "catalyst": _dur(plan),
        "execute": _dur(execute) - sink,
        "sink": sink,
        "per-op floor": tracer.self_time(op),
    }


def _pass_layers(tracer: Tracer, p: dict, cores: int, manifest: dict) -> dict[str, float]:
    ops = [o for o in _op_spans(tracer, p["span"]) if "build_stats" in o]
    by_name = {o["op"]: o for o in ops}
    wall = sum(_dur(o) for o in ops)
    m: dict[str, float] = {}
    build = [_child(tracer, o, "build") for o in ops]
    m["plans.build_s"] = sum(_dur(b) for b in build)
    m["plans.build_jobs"] = sum(o["build_stats"]["jobs"] for o in ops)
    m["plans.build_share"] = m["plans.build_s"] / wall if wall else 0.0
    ckpt = [s for o in ops for s in _named(tracer, o, "caching.flat_checkpoint")]
    m["caching.checkpoint_calls"] = len(ckpt)
    m["caching.checkpoint_s"] = sum(_dur(s) for s in ckpt)
    m["caching.persist_calls"] = sum(len(_named(tracer, o, "caching.owned_persist")) for o in ops)
    m["caching.resident_mb_max"] = max((o["resident_mb"] for o in ops), default=0.0)
    m["catalyst.plan_s"] = sum(_dur(_child(tracer, o, "plan")) for o in ops)
    m["catalyst.plan_kchars"] = sum(o["plan_kchars"] for o in ops)
    m["catalyst.exchanges"] = sum(o["exchanges"] for o in ops)
    m["exec.run_s"] = sum(_dur(_child(tracer, o, "execute")) for o in ops)
    for key in ("jobs", "tasks", "task_busy_s", "shuffle_write_mb", "spill_mb", "failed_tasks"):
        m[f"exec.{key}"] = sum(o["exec_stats"][key] for o in ops)
    m["exec.slot_util"] = m["exec.task_busy_s"] / (m["exec.run_s"] * cores) if m["exec.run_s"] else 0.0

    workload_ops = {op.name: op for w in WORKLOADS.values() for op in w.ops}
    stage = [o for o in ops if workload_ops[o["op"]].kind == "stage"]
    m["sources.stage_s"] = sum(_dur(o) for o in stage)
    rows = manifest.get("etl", {}).get("rows", {})
    staged_rows = sum(rows.get(o["op"].removeprefix("stage_"), 0) for o in stage)
    m["sources.csv_rows_per_s"] = staged_rows / m["sources.stage_s"] if stage else 0.0
    for metric in _KIND_METRIC.values():
        m[metric] = 0.0
    for o in ops:
        metric = _KIND_METRIC.get(workload_ops[o["op"]].kind)
        if metric:
            m[metric] += _dur(o)
    m["sinks.write_s"] = sum(_dur(s) for o in ops for s in _named(tracer, o, "sinks.write"))
    sink_bytes = sum(o.get("sink_bytes", 0) for o in ops)
    m["sinks.bytes_mb"] = sink_bytes / 1e6
    m["sinks.files"] = sum(o.get("sink_files", 0) for o in ops)
    input_bytes = manifest.get("etl", {}).get("csv_bytes", 0)
    m["sinks.stored_bytes_ratio"] = sink_bytes / input_bytes if input_bytes else 0.0

    m["trace.self_gap_ms"] = 1000 * max(
        (abs(sum(tracer.self_time(s) for s in tracer.subtree(o)) - _dur(o)) for o in ops),
        default=0.0,
    )
    for name in workload_ops:
        o = by_name.get(name)
        m[f"{name}.build_s"] = _dur(_child(tracer, o, "build")) if o else 0.0
        m[f"{name}.exec_s"] = _dur(_child(tracer, o, "execute")) if o else 0.0
    return m


# end-to-end metrics (untraced runs) and their units
E2E_UNITS = {
    "pass_s": "s",
    "op_s_p50": "s",
    "setup_s": "s",
}

# unit of every per-layer metric that is not per op (per-op ones are "s")
UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_share": "ratio",
    "caching.checkpoint_calls": "count", "caching.checkpoint_s": "s",
    "caching.persist_calls": "count", "caching.resident_mb_max": "MB",
    "catalyst.plan_s": "s", "catalyst.plan_kchars": "kchars", "catalyst.exchanges": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.tasks": "count", "exec.task_busy_s": "s",
    "exec.slot_util": "ratio", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "sources.stage_s": "s", "sources.csv_rows_per_s": "1/s",
    "operators.scd2_initial_s": "s", "operators.scd2_merge_s": "s", "operators.fact_s": "s",
    "sinks.write_s": "s", "sinks.bytes_mb": "MB", "sinks.files": "count",
    "sinks.stored_bytes_ratio": "ratio",
    "failed_op_ratio": "ratio",
    "peak_rss_mb": "MB",
    # from the untraced passes of the traced run
    "op_s_p90": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.self_gap_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    ops = [op.name for w in WORKLOADS.values() for op in w.ops]
    return {**UNITS, **{f"{n}.{part}": "s" for n in ops for part in ("build_s", "exec_s")}}


def per_layer(passes, tracer, session_s, cores, failed_ratio, manifest) -> dict:
    """Per-layer metrics as {name: (value, unit)}: medians over the traced
    passes of per-pass totals. Per-op metrics of ops outside this
    workload read 0."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per_pass = [_pass_layers(tracer, p, cores, manifest) for p in traced]
    out = {k: (statistics.median(m[k] for m in per_pass), UNITS.get(k, "s")) for k in per_pass[0]}
    out["session.start_s"] = (session_s, "s")
    out["failed_op_ratio"] = (failed_ratio, "ratio")
    t_pass = statistics.median(p["wall_s"] for p in traced)
    out["trace.pass_s"] = (t_pass, "s")
    out["trace.overhead_s"] = (t_pass - statistics.median(p["wall_s"] for p in untraced), "s")
    return out


def where_time_goes(workload, passes, tracer) -> str:
    """Markdown table: seconds per traced pass spent in each part."""
    traced = [p for p in passes if p["traced"]]
    parts: dict[str, float] = {}
    for p in traced:
        for o in _op_spans(tracer, p["span"]):
            if "build_stats" not in o:
                continue
            for k, v in op_breakdown(tracer, o).items():
                parts[k] = parts.get(k, 0.0) + v / len(traced)
    total = sum(parts.values())
    lines = [
        f"where the time goes: {workload.name}, {len(traced)} traced pass(es), s per pass",
        "| part | s | share |",
        "| --- | ---: | ---: |",
    ]
    lines += [f"| {k} | {v:.3f} | {v / total:.1%} |" for k, v in parts.items()]
    lines.append(f"| total (sum of op walls) | {total:.3f} | 100.0% |")
    return "\n".join(lines)
