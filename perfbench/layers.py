"""Per-layer metrics from a traced run.

Layers are named after the package's modules. Per-pass figures are medians
over the traced warm passes (or epochs); the first pass is excluded.
"""

from __future__ import annotations

import statistics

from trace import self_time

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "compiler.compile_s": "s",
    "compiler.build_s": "s",
    "compiler.build_jobs": "count",
    "compiler.build_py_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy": "ratio",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.task_skew": "ratio",
    "exec.codegen_fallbacks": "count",
    "udf.rows": "count",
    "udf.bytes_to_python": "B",
    "udf.bytes_from_python": "B",
    "sinks.kept_s": "s",
    "sinks.rejected_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "metrics.harvest_s": "s",
    "metrics.write_s": "s",
    "metrics.recounts": "count",
    "report.render_s": "s",
    "streaming.epoch_jobs": "count",
    "streaming.compaction_epoch_s": "s",
    "txtable.versions": "count",
    "txtable.snapshot_files": "count",
    "txtable.bytes_per_user_byte": "ratio",
    "txtable.snapshot_read_s": "s",
    "pass.self_s": "s",
    "trace.overhead_pct": "%",
    "host.steal_pct": "%",
    "host.loadavg_1m": "load",
    "peak_rss_mb": "MB",
}

_CHILD_LAYER = {
    "compiler.compile": "compiler.compile_s",
    "compiler.build": "compiler.build_s",
    "sinks.write_kept": "sinks.kept_s",
    "sinks.write_rejected": "sinks.rejected_s",
    "metrics.write_metrics": "metrics.write_s",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _exec(records, job_ids: list[int], wall: float, cores: int) -> dict:
    stages = records.stages_for(job_ids)
    tot = lambda k: sum(s[k] for s in stages.values())
    skew = 0.0
    if stages:
        sid, slow = max(stages.items(), key=lambda kv: kv[1]["run_ms"])
        skew = records.task_skew(sid, slow)
    run_s = tot("run_ms") / 1000.0
    udf = records.python_node_metrics(job_ids)
    return {
        "exec.jobs": len(job_ids),
        "exec.stages": len(stages),
        "exec.tasks": tot("tasks"),
        "exec.run_s": run_s,
        "exec.cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1000.0,
        "exec.core_busy": run_s / (wall * cores) if wall > 0 else 0.0,
        "exec.input_bytes": tot("input_bytes"),
        "exec.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "exec.spill_bytes": tot("spill_bytes"),
        "exec.task_skew": skew,
        "udf.rows": udf["rows"],
        "udf.bytes_to_python": udf["bytes_to_python"],
        "udf.bytes_from_python": udf["bytes_from_python"],
    }


def _jobs_under(tracer, records, span: dict) -> list[int]:
    """Spark jobs launched inside ``span``, its descendants included."""
    ids = [span["id"]] + [d["id"] for d in tracer.descendants(span["id"])]
    return [j for i in ids for j in records.jobs_for(i)]


def _op_record(run, records, op: dict, cores: int) -> dict:
    tracer = run.tracer
    root = next(s for s in tracer.spans if s["id"] == op["span"])
    desc = tracer.descendants(root["id"])
    jobs = _jobs_under(tracer, records, root)
    rec = _exec(records, jobs, _dur(root), cores)
    rec["pass.self_s"] = self_time(root, tracer.children(root["id"]))
    for child in tracer.children(root["id"]):
        key = _CHILD_LAYER.get(child["name"])
        if key:
            rec[key] = rec.get(key, 0.0) + _dur(child)
        if child["name"] == "compiler.build":
            inner = _jobs_under(tracer, records, child)
            rec["compiler.build_jobs"] = len(inner)
            rec["compiler.build_py_s"] = _dur(child) - sum(records.job_wall_s(j) for j in inner)
    rec["metrics.harvest_s"] = sum(_dur(d) for d in desc if d["name"] == "metrics.harvest")
    for phase, ms in (op.get("catalyst") or {}).items():
        rec[f"catalyst.{phase}_ms"] = ms
    if "sink_bytes" in op:
        rec["sinks.bytes_written"] = op["sink_bytes"]
        rec["sinks.files_written"] = op["sink_files"]
    rec["metrics.recounts"] = op.get("recounts", 0)
    if root["name"] == "streaming.epoch":
        rec["streaming.epoch_jobs"] = len(jobs)
    return rec


def per_layer(run, records, result: dict) -> dict:
    """Every per-layer metric except the ones ``run.py`` adds from outside
    the worker (codegen fallbacks, steal, load)."""
    cores = result["cores"]
    ops = [p for p in run.passes[1:] if p.get("span") is not None and p["ok"]]
    recs = [_op_record(run, records, op, cores) for op in ops]
    out = {k: 0.0 for k in PER_LAYER}
    for key in {k for r in recs for k in r}:
        out[key] = statistics.median(r.get(key, 0.0) for r in recs)
    out["session.start_s"] = result["setup_s"]
    out["session.worker_warm_s"] = result.get("worker_warm_s", 0.0)
    for s in run.tracer.spans:
        if s["name"] == "report.render_html_report":
            out["report.render_s"] = _dur(s)
    traced = [p["wall"] for p in run.passes[1:] if p["ok"] and p.get("traced")]
    plain = [p["wall"] for p in run.passes[1:] if p["ok"] and not p.get("traced")]
    if traced and plain:
        out["trace.overhead_pct"] = 100.0 * (
            statistics.median(traced) / statistics.median(plain) - 1.0
        )
    cdc = getattr(run, "cdc_state", None)
    if cdc:
        comp = [p["wall"] for p in run.passes[1:] if p.get("compaction") and p["ok"]]
        out["streaming.compaction_epoch_s"] = statistics.median(comp) if comp else 0.0
        out["txtable.versions"] = cdc["versions"]
        out["txtable.snapshot_files"] = cdc["snapshot_files"]
        out["txtable.bytes_per_user_byte"] = cdc["table_bytes"] / max(cdc["user_bytes"], 1)
        out["txtable.snapshot_read_s"] = cdc.get("snapshot_read_s", 0.0)
    return out
