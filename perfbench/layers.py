"""Metric names and units, and the per-layer metrics of a traced run.

Per-layer values are medians over the calls the run made into a layer.
A layer the workload never calls reports 0 (for example the query
operators on ``build``), which is the prediction "no change there".
"""

from __future__ import annotations

import inputs
from tracing import non_jvm_share
from workloads import BUILD_STAGES, median

END_TO_END = {
    "main_p50_ms": "ms",
    "kinds_geomean_ms": "ms",
    "index_bytes_per_turn": "B/turn",
    "setup_s": "s",
}

_BUILD_COUNTERS = {
    "task_us_per_turn": "us/turn", "jvm_cpu_us_per_turn": "us/turn",
    "gc_s": "s", "non_jvm_share": "ratio",
    "shuffle_write_bytes_per_turn": "B/turn",
    "shuffle_read_bytes_per_turn": "B/turn",
    "spill_bytes": "B", "peak_exec_mem_bytes": "B",
    "jobs": "count", "tasks": "count",
}
_EXEC = {"exec_ms": "ms", "exec_jobs": "count", "task_ms": "ms",
         "non_jvm_share": "ratio"}

PER_LAYER = {
    "session.start_s": "s", "sources.gen_s": "s", "oracle.load_s": "s",
    **{f"build.{s}.wall_s": "s" for s in BUILD_STAGES},
    **{f"build.{s}.bytes_per_turn": "B/turn" for s in BUILD_STAGES},
    **{f"build.{k}": u for k, u in _BUILD_COUNTERS.items()},
    "index.topk.fresh.plan_ms": "ms", "index.topk.fresh.plan_jobs": "count",
    "index.topk.repeat.plan_ms": "ms",
    "index.topk.repeat.plan_jobs": "count",
    "plans.cql.plan_ms": "ms", "plans.cql.plan_jobs": "count",
    "engine.plan_cache_hit_ratio": "ratio",
    **{f"operators.topk.{k}": u for k, u in _EXEC.items()},
    "operators.topk.shuffle_bytes": "B",
    "operators.topk.repeat.exec_ms": "ms",
    **{f"operators.cql.{kind}.{k}": u
       for kind in inputs.POSITIONAL_KINDS for k, u in _EXEC.items()},
    "delete.call_ms": "ms", "delete.docs": "count",
    "streaming.append.wall_s": "s", "streaming.append.jobs": "count",
    "streaming.append.task_s": "s", "streaming.delta_open_ms": "ms",
    "streaming.topk.exec_ms": "ms",
    "trace.self_ms_per_op": "ms", "trace.main_p50_ms": "ms",
}


def _exec_record(spans) -> dict:
    cs = [sp.counters for sp in spans]
    return {"exec_ms": median(sp.ms for sp in spans),
            "exec_jobs": median(c["jobs"] for c in cs),
            "task_ms": median(c["run_ms"] for c in cs),
            "non_jvm_share": median(non_jvm_share(c) for c in cs)}


def per_layer(result: dict, setup: dict, tracer, attempted: int) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = setup["session_s"]
    out["sources.gen_s"] = setup["gen_s"]
    out["oracle.load_s"] = setup["oracle_s"]
    for key in (result["build_layers"][0] if result["build_layers"]
                else {}):
        out[f"build.{key}"] = median(r[key] for r in result["build_layers"])

    q = result.get("query_layers", ())
    ing = result.get("ingest_layers")
    fresh = ([(p, e) for p, e, _ in ing["topk"]] if ing
             else [(p, e) for c, p, e in q if c == "topk_fresh"])
    repeat = [(p, e) for c, p, e in q if c == "topk_repeat"]
    cql = [(c, p, e) for c, p, e in q if not c.startswith("topk")]
    if fresh:
        out["index.topk.fresh.plan_ms"] = median(p.ms for p, _ in fresh)
        out["index.topk.fresh.plan_jobs"] = median(
            p.counters["jobs"] for p, _ in fresh)
        for k, v in _exec_record([e for _, e in fresh]).items():
            out[f"operators.topk.{k}"] = v
        out["operators.topk.shuffle_bytes"] = median(
            e.counters["shuffle_write_bytes"] for _, e in fresh)
    if repeat:
        out["index.topk.repeat.plan_ms"] = median(p.ms for p, _ in repeat)
        out["index.topk.repeat.plan_jobs"] = median(
            p.counters["jobs"] for p, _ in repeat)
        out["operators.topk.repeat.exec_ms"] = median(e.ms for _, e in repeat)
    if cql:
        out["plans.cql.plan_ms"] = median(p.ms for _, p, _ in cql)
        out["plans.cql.plan_jobs"] = median(p.counters["jobs"]
                                            for _, p, _ in cql)
    for kind in inputs.POSITIONAL_KINDS:
        spans = [e for c, _, e in cql if c == kind]
        if spans:
            for k, v in _exec_record(spans).items():
                out[f"operators.cql.{kind}.{k}"] = v
    hits, calls = result.get("plan_cache", (0, 0))
    out["engine.plan_cache_hit_ratio"] = hits / calls if calls else 0.0

    if ing:
        if ing["delete"]:
            out["delete.call_ms"] = median(ms for ms, _ in ing["delete"])
            out["delete.docs"] = median(n for _, n in ing["delete"])
        if ing["append"]:
            out["streaming.append.wall_s"] = median(
                ms / 1e3 for ms, _, _ in ing["append"])
            out["streaming.append.jobs"] = median(
                sp.counters["jobs"] for _, _, sp in ing["append"])
            out["streaming.append.task_s"] = median(
                sp.counters["run_ms"] / 1e3 for _, _, sp in ing["append"])
        out["streaming.delta_open_ms"] = median(ing["open"])
        out["streaming.topk.exec_ms"] = median(e.ms for _, e in fresh)
    out["trace.self_ms_per_op"] = tracer.self_s * 1e3 / max(1, attempted)
    out["trace.main_p50_ms"] = median(result["main_ms"])
    return out
