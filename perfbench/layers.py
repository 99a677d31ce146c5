"""Per-layer metrics of a traced run, from its spans and the counters
the Spark event log attributes to each span's job group.

Per-op values are summed over an op's span subtree; a metric is then
the sum over op kinds of each kind's median, i.e. the cost of one pass
of the workload.
"""

from __future__ import annotations

from collections import defaultdict

from harness import EventLog, p50


def per_layer(run, wl, e2e: dict, session_s: float, cached: int, extra: dict,
              report: dict) -> dict:
    ev = EventLog(run.event_dir)
    spans = run.tracer.spans
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def incl(s: dict, key: str) -> float:
        own = ev.by_span.get(f"span-{s['id']}", {}).get(key, 0.0)
        return own + sum(incl(c, key) for c in children[s["id"]])

    def under(s: dict, name: str):
        for c in children[s["id"]]:
            if c["name"] == name:
                yield c
            yield from under(c, name)

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    by_kind: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["name"] == "op" and s["phase"] == "timed":
            by_kind[s["op"].split("#")[0]].append(s)

    def per_pass(fn) -> float:
        return sum(p50([fn(op) for op in ops]) for ops in by_kind.values())

    def in_spans(name: str, fn) -> float:
        return per_pass(lambda op: sum(fn(d) for d in under(op, name)))

    def counter(key: str) -> float:
        return per_pass(lambda op: incl(op, key))

    def timed_spans(name: str) -> list[dict]:
        return [d for op in sum(by_kind.values(), []) for d in under(op, name)]

    lookups = timed_spans("sources.read_pruned")
    appends = timed_spans("pipeline.run")
    out = {
        "session.start_s": session_s,
        "plans.construct_s": in_spans("plans.construct", dur),
        "plans.construct_jobs": in_spans("plans.construct", lambda d: incl(d, "jobs")),
        "spark.analyze_s": in_spans("spark.plan", lambda d: d.get("analyze_s", 0.0)),
        "spark.optimize_s": in_spans("spark.plan", lambda d: d.get("optimize_s", 0.0)),
        "spark.exec_s": in_spans("spark.exec", dur),
        "spark.jobs": counter("jobs"),
        "spark.stages": counter("stages"),
        "spark.tasks": counter("tasks"),
        "spark.exchanges": counter("exchanges"),
        "spark.broadcasts": counter("broadcasts"),
        "spark.shuffle_write_bytes": counter("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": counter("shuffle_read_bytes"),
        "spark.spill_bytes": counter("spill_bytes"),
        "spark.gc_s": counter("gc_s"),
        "spark.executor_cpu_s": counter("executor_cpu_s"),
        "sources.scan_bytes": counter("scan_bytes"),
        "sources.scan_files": counter("scan_files"),
        "sources.files_opened": p50([incl(d, "scan_files") for d in lookups]),
        "sources.files_total": p50([d.get("files_total", 0) for d in lookups]),
        "py.rows_sent": counter("py_rows_sent"),
        "py.bytes_sent": counter("py_bytes_sent"),
        "py.bytes_returned": counter("py_bytes_returned"),
        "lsh.candidates": extra.get("lsh.candidates", 0),
        "lsh.verified": extra.get("lsh.verified", 0),
        "lsh.precision": extra.get("lsh.precision", 0.0),
        "lsh.max_bucket": extra.get("lsh.max_bucket", 0),
        "cache.storage_bytes": cached,
        "pipeline.jobs": p50([incl(d, "jobs") for d in appends]),
        "incremental.rows_loaded": p50([d.get("rows_loaded", 0) for d in appends]),
        "sql.route_jobs": in_spans("sql.route", lambda d: incl(d, "jobs")),
        "write_amp": extra.get("write_amp", 0.0),
        "space_amp": extra.get("space_amp", 0.0),
        "merge_small_share": extra.get("merge_small_share", 0.0),
        "error_rate": report["error_rate"],
        "trace.pass_s": e2e["pass_s"],
    }
    if hasattr(wl, "table_counters"):
        jobs = {k: sum(incl(op, "jobs") for op in ops) for k, ops in by_kind.items()}
        out.update(wl.table_counters(jobs))
    else:
        out.update({
            k: 0 for k in (
                "table.jobs_per_commit", "table.bytes_written", "table.files_added",
                "table.files_removed", "table.dirs_rewritten", "table.dirs_total",
                "table.manifest_bytes", "table.conflict_retries",
            )
        })
    report["layers_report"] = {
        "py.time_s": counter("py_time_s"),
        "pipeline.run_s": p50([dur(d) for d in appends]),
        "sql.route_s": in_spans("sql.route", dur),
    }
    return out
