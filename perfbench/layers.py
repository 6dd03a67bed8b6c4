"""Per-layer metrics of a traced run.

Combines the worker's spans and per-key probes with the Spark event log
(task metrics per job group). Every workload reports every metric; a layer
the workload does not exercise reports 0.

Which end-to-end figure each layer metric should move, and on which workload:

  session.*, registry.*             -> setup_s                    all
  session.peak_rss_mb               -> none: memory moved into caches shows here
  queries.build_*                   -> op_p50_s (query_p50_s)     query_mix
  queries.build_jobs/_stages/_job_s -> wall_s, query_tail_s       iterative_build (0 on query_mix)
  catalyst.*                        -> op_p50_s                   query_mix
  exec.s/jobs/stages/tasks/sched_*  -> op_p50_s; wall_s           query_mix; iterative_build
  exec.task_*/gc/shuffle/spill      -> rows_per_s                 etl_incremental
  io/operators/graph memo counts    -> op_p50_s; wall_s, rss      query_mix; iterative_build
  connectors.*                      -> load_full_s                etl_incremental
  streaming.*                       -> load_incr_s                etl_incremental
  host.*                            -> none: host-drift anchors   all
"""

from __future__ import annotations

import glob
import os

import spans as sp
import stats

# (name, unit, better)
METRICS = [
    ("session.get_spark_s", "s", "lower"),
    ("registry.load_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.build_p50_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("queries.build_stages", "count", "lower"),
    ("queries.build_job_s", "s", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.sched_overhead_s", "s", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("io.df_memo_misses", "count", "lower"),
    ("operators.kmeans_fits", "count", "lower"),
    ("queries.graph_edge_cache_entries", "count", "lower"),
    ("connectors.rest.push_s", "s", "lower"),
    ("connectors.rest.rows", "count", "lower"),
    ("connectors.rest.batches", "count", "lower"),
    ("connectors.files.write_s", "s", "lower"),
    ("connectors.files.bytes_per_input_byte", "ratio", "lower"),
    ("streaming.upsert_s", "s", "lower"),
    ("streaming.microbatches", "count", "lower"),
    ("streaming.batch_p50_ms", "ms", "lower"),
    ("streaming.target_rewrite_mb", "MB", "lower"),
    ("host.calib_python_s", "s", "lower"),
    ("host.calib_spark_s", "s", "lower"),
    ("host.load1", "load", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.key_coverage_min", "ratio", "higher"),
]

_NOT_WORKLOAD = ("", "bench", "calib")


def _event_groups(eventlog_dir: str) -> dict[str, dict]:
    """Spark 4 writes a rolling event log: one ``eventlog_v2_<app>`` directory
    of ``events_<n>_<app>`` files. Read them in order as one log."""
    apps = glob.glob(os.path.join(eventlog_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {apps}")
    parts = sorted(glob.glob(os.path.join(apps[0], "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sp.read_event_log(parts)


def _span_objects(rows: list[dict]) -> list[sp.Span]:
    return [sp.Span(r["id"], r["name"], r["start"], r["end"], r["parent"],
                    r["run_id"], r.get("attrs", {})) for r in rows]


def per_layer(workload: str, result: dict, eventlog_dir: str) -> tuple[dict, dict]:
    """Returns ``({name: (value, unit)}, detail)`` for a traced run."""
    groups = _event_groups(eventlog_dir)
    spans = _span_objects(result["spans"])
    selft = sp.self_times(spans)
    by_name: dict[str, float] = {}
    for s in spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + selft[s.sid]
    setup = result["setups"][0]
    host = result.get("host") or {}
    v: dict[str, float] = {m[0]: 0.0 for m in METRICS}
    v.update({
        "session.get_spark_s": setup["get_spark_s"],
        "registry.load_s": setup["registry_load_s"],
        "session.warmup_s": setup["warmup_s"],
        "host.calib_python_s": host.get("calib_python_s", 0.0),
        "host.calib_spark_s": host.get("calib_spark_s", 0.0),
        "host.load1": result["load_start"][0],
        "session.peak_rss_mb": result["peak_rss_mb"],
        "trace.wall_s": result["wall_s"],
    })
    ops = [op for op in result["ops"] if "s" in op]
    detail: dict = {"self_time_s": by_name, "groups": len(groups)}
    if workload == "etl_incremental":
        work_groups = [g for g in groups if g not in _NOT_WORKLOAD]
        _task_metrics(v, groups, work_groups)
        full = result["ops"][0]
        v.update({
            "exec.s": by_name.get("exec.count", 0.0),
            "exec.jobs": sum(groups[g].get("jobs", 0) for g in work_groups),
            "exec.stages": sum(groups[g].get("stages", 0) for g in work_groups),
            "connectors.rest.push_s": by_name.get("connectors.rest.push", 0.0),
            "connectors.rest.rows": full.get("rest_rows", 0),
            "connectors.rest.batches": full.get("rest_batches", 0),
            "connectors.files.write_s": by_name.get("connectors.files.write", 0.0),
            "connectors.files.bytes_per_input_byte":
                full.get("snapshot_bytes", 0) / result["inputs"]["day1"]["bytes"],
            "streaming.upsert_s": by_name.get("streaming.upsert", 0.0),
            "streaming.microbatches": len(result["microbatches"]),
            "streaming.batch_p50_ms":
                1e3 * stats.median([b[2] for b in result["microbatches"]]),
            "streaming.target_rewrite_mb":
                sum(op.get("target_bytes", 0) for op in result["ops"][1:]) / 1e6,
        })
        detail["summary"] = {"loads": len(ops), "microbatches": len(result["microbatches"])}
        return _with_units(v), detail

    exec_groups = [f"exec:{op['key']}" for op in ops]
    _task_metrics(v, groups, exec_groups)
    build_net = [op["build_s"] - groups.get(f"build:{op['key']}", {}).get("job_s", 0.0)
                 for op in ops]
    sched = [max(0.0, op["exec_s"] - op["optimization_s"] - op["planning_s"]
                 - groups.get(f"exec:{op['key']}", {}).get("critical_task_s", 0.0))
             for op in ops]
    coverage = _key_coverage(spans, selft)
    v.update({
        "queries.build_s": sum(build_net),
        "queries.build_p50_s": stats.median(build_net),
        "queries.build_jobs": sum(op["build_jobs"] for op in ops),
        "queries.build_stages": sum(op["build_stages"] for op in ops),
        "queries.build_job_s": sum(groups.get(f"build:{op['key']}", {}).get("job_s", 0.0)
                                   for op in ops),
        "catalyst.analysis_s": sum(op["analysis_s"] for op in ops),
        "catalyst.optimization_s": sum(op["optimization_s"] for op in ops),
        "catalyst.planning_s": sum(op["planning_s"] for op in ops),
        "exec.s": sum(op["exec_s"] for op in ops),
        "exec.jobs": sum(op["exec_jobs"] for op in ops),
        "exec.stages": sum(op["exec_stages"] for op in ops),
        "exec.sched_overhead_s": sum(sched),
        "io.df_memo_misses": sum(op["df_memo_misses"] for op in ops),
        "operators.kmeans_fits": sum(op["kmeans_fits"] for op in ops),
        "queries.graph_edge_cache_entries": result["graph_edge_cache_entries"],
        "trace.key_coverage_min": min(coverage.values(), default=0.0),
    })
    detail["keys"] = {op["key"]: {
        "s": op["s"], "build_s": op["build_s"], "exec_s": op["exec_s"],
        "build_jobs": op["build_jobs"], "exec_jobs": op["exec_jobs"],
        "coverage": coverage.get(op["key"])} for op in ops}
    detail["summary"] = {
        "keys": len(ops),
        "build_jobs_zero": sum(op["build_jobs"] == 0 for op in ops),
        "key_coverage_min": v["trace.key_coverage_min"],
    }
    return _with_units(v), detail


def _task_metrics(v: dict, groups: dict, names: list[str]) -> None:
    def total(field: str) -> float:
        return sum(groups.get(g, {}).get(field, 0.0) for g in names)

    v.update({
        "exec.tasks": total("tasks"),
        "exec.task_run_s": total("task_run_s"),
        "exec.task_cpu_s": total("task_cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.shuffle_read_mb": total("shuffle_read_bytes") / 1e6,
        "exec.shuffle_write_mb": total("shuffle_write_bytes") / 1e6,
        "exec.spill_mb": total("spill_bytes") / 1e6,
    })


def _key_coverage(spans: list[sp.Span], selft: dict[int, float]) -> dict[str, float]:
    """Per key: the share of its traced wall time that build, Catalyst and
    exec self times account for (everything but the key span's own)."""
    out = {}
    for s in spans:
        if s.name == "key":
            dur = s.end - s.start
            out[s.attrs["key"]] = 1.0 - selft[s.sid] / dur if dur > 0 else 0.0
    return out


def _with_units(v: dict) -> dict:
    units = {name: unit for name, unit, _ in METRICS}
    return {k: (float(v[k]), units[k]) for k in units}
