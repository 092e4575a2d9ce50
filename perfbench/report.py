"""Turn one run's spans and op records into its metrics.

End-to-end metrics come from the root spans (one per op); per-layer
metrics from the spans nested inside them and the counts the traced
run attaches. A layer a workload does not exercise reports 0.

Apart from `peak_rss_mb`, the end-to-end metrics count the CPU seconds
the driver process and its JVM spend on set-up (`setup_s`: session
start plus the median set-up) and on each op, not wall-clock time. On a shared 4-core host the wall time of the same
run moves by up to 2.4x with the neighbours' load (at CPU steal shares
of 2% to 18%), while the CPU time of an op does not count the time
the op waited for a core. The wall-clock figures (`wall.*`) are in the
report of every run and among the per-layer metrics.
"""

from __future__ import annotations

import statistics

from spans import Tracer, median_or_zero, self_times, tail

END_TO_END = {
    "setup_s": "s",
    "read_cpu_p50_s": "s",
    "write_cpu_p50_s": "s",
    "ops_per_cpu_min": "1/min",
    "rows_written_per_cpu_s": "rows/s",
    "peak_rss_mb": "MB",
}

#: Wall-clock figures of the ops, reported among the per-layer metrics.
WALL_PER_LAYER = {
    "read_p50_s": "s",
    "write_p50_s": "s",
    "ops_per_min": "1/min",
    "rows_written_per_s": "rows/s",
}

_MODULES = ("relational", "analytics", "dedup", "similarity", "text")


def _ok(spans):
    return [s for s in spans if not s.attrs.get("failed")]


def _med(spans, f=lambda s: s.duration) -> float:
    return median_or_zero([f(s) for s in _ok(spans)])


def build(workload, tracer: Tracer, ops, wl, *, session_s, setup_s,
          wall_setup_s, peak_rss_mb, window_s, steps) -> dict:
    roots = tracer.roots()
    reads = [s for s in _ok(roots) if s.kind == "read"]
    writes = [s for s in _ok(roots) if s.kind == "write"]
    maint = [s for s in roots if s.kind == "maintenance"]
    storage = wl.storage() if hasattr(wl, "storage") else {}

    def timing(f) -> dict[str, float]:
        """p50, tail and rates of one clock (`f` reads it off a span)."""
        r, w = [f(s) for s in reads], [f(s) for s in writes]
        (rt, rpct), (wt, wpct) = tail(r), tail(w)
        return {
            "read_p50_s": statistics.median(r), "read_tail_s": rt,
            "read_tail_percentile": rpct,
            "write_p50_s": statistics.median(w), "write_tail_s": wt,
            "write_tail_percentile": wpct,
            "ops_per_min": 60.0 * len(roots) / sum(f(s) for s in roots),
            "rows_written_per_s": ops.rows_written / sum(w),
        }

    wall = timing(lambda s: s.duration)
    cpu = timing(lambda s: s.cpu_s)
    e2e = {
        "setup_s": setup_s,
        "read_cpu_p50_s": cpu["read_p50_s"],
        "write_cpu_p50_s": cpu["write_p50_s"],
        "ops_per_cpu_min": cpu["ops_per_min"],
        "rows_written_per_cpu_s": cpu["rows_written_per_s"],
        "peak_rss_mb": peak_rss_mb,
    }
    extra = {
        "maintenance_s": sum(s.duration for s in maint),
        "storage_amp": storage.get("storage_amp", 0.0),
        "error_rate": len(ops.failures) / ops.attempted,
        "wall.setup_s": wall_setup_s,
        **{f"wall.{k}": v for k, v in wall.items()},
        **{f"cpu.{k}": v for k, v in cpu.items()},
        "read_samples": len(reads),
        "write_samples": len(writes),
        "window_s": window_s,
        "steps": steps,
        "ops": len(roots),
    }

    pl: dict[str, tuple[float, str]] = {}
    pl["wall.setup_s"] = (wall_setup_s, "s")
    for k, unit in WALL_PER_LAYER.items():
        pl[f"wall.{k}"] = (wall[k], unit)
    pl["session.start_s"] = (session_s, "s")
    construct = tracer.named("construct")
    pl["sources.construct_s"] = (_med(construct), "s")
    pl["sources.construct_jobs"] = (_med(construct, lambda s: s.jobs), "count")
    for m in _MODULES:
        ex = [s for s in tracer.named("execute") if s.layer == f"operators.{m}"]
        pl[f"operators.{m}.exec_s"] = (_med(ex), "s")
    for n in ("build", "add_batch", "search"):
        pl[f"operators.ann.{n}_s"] = (_med(tracer.named(n)), "s")
    ann_ops = [s for s in roots if s.layer == "operators.ann"]
    pl["operators.ann.jobs"] = (
        _med(ann_ops, lambda s: tracer.totals(s)["jobs"]), "count")

    totals = [tracer.totals(s) for s in _ok(roots)]
    planned = [t["plan_ms"] for s, t in zip(_ok(roots), totals) if t["plan_ms"] > 0]
    pl["spark.plan_ms"] = (median_or_zero(planned), "ms")
    for k in ("jobs", "stages", "tasks"):
        pl[f"spark.{k}_per_op"] = (
            sum(t[k] for t in totals) / len(totals) if totals else 0.0, "count")

    commits = [s for s in _ok(getattr(wl, "commit_spans", [])) if s.phase == "measure"]
    pl["tables.commit_jobs"] = (
        median_or_zero([tracer.totals(s)["jobs"] for s in commits]), "count")
    pl["tables.files_added_per_commit"] = (
        median_or_zero([s.attrs["files_added"] for s in commits]), "count")
    pl["tables.files_removed_per_commit"] = (
        median_or_zero([s.attrs["files_removed"] for s in commits]), "count")
    rows = sum(s.attrs["rows"] for s in commits)
    pl["tables.bytes_written_per_row"] = (
        sum(s.attrs["bytes_written"] for s in commits) / rows if rows else 0.0, "B/row")
    # Like with like: CDC batch latency, last quarter over first.
    batches = [s for s in commits if s.name == "cdc_batch"]
    q = max(1, len(batches) // 4)
    growth = 0.0
    if len(batches) >= 2:
        growth = (statistics.median(s.duration for s in batches[-q:])
                  / statistics.median(s.duration for s in batches[:q]))
    pl["tables.commit_growth"] = (growth, "ratio")
    pl["tables.record_index.bytes_per_commit"] = (
        storage.get("record_index_bytes", 0) / len(commits) if commits else 0.0, "B")
    points = tracer.named("point_read")
    pl["tables.point_read_s"] = (_med(points), "s")
    pl["tables.point_read.files_read_ratio"] = (
        _med(points, lambda s: s.attrs["files_read"] / max(1, s.attrs["files_live"])),
        "ratio")

    for n in ("compaction", "clustering", "clean"):
        pl[f"maintenance.{n}_s"] = (_med(tracer.named(n)), "s")
    pl["maintenance.log_files_compacted"] = (
        sum(s.attrs.get("log_files", 0) for s in tracer.named("compaction")), "count")
    pl["maintenance.bytes_rewritten"] = (
        sum(s.attrs.get("bytes_rewritten", 0)
            for n in ("compaction", "clustering") for s in tracer.named(n)), "B")
    for p in ("hudi", "iceberg", "delta"):
        pl[f"personality.{p}.sync_s"] = (_med(tracer.named(f"{p}:sync")), "s")
        pl[f"personality.{p}.read_s"] = (_med(tracer.named(f"{p}:read")), "s")
        pl[f"personality.{p}.metadata_bytes"] = (
            storage.get(f"{p}_metadata_bytes", 0), "B")

    for n in ("update", "merge", "select_rt", "select_ro", "point_select"):
        pl[f"sql.{n}_s"] = (_med(tracer.named(f"sql:{n}")), "s")
    for n in ("update", "merge"):
        pl[f"sql.{n}_jobs"] = (
            _med(tracer.named(f"sql:{n}"), lambda s: tracer.totals(s)["jobs"]), "count")
    pl["sql.dispatch_s"] = (_med(tracer.named("dispatch")), "s")

    pl["run.maintenance_s"] = (extra["maintenance_s"], "s")
    pl["run.storage_amp"] = (extra["storage_amp"], "ratio")
    pl["trace.overhead_s"] = (tracer.overhead_s, "s")
    pl["trace.overhead_share"] = (tracer.overhead_s / sum(s.duration for s in roots), "ratio")

    selfs = self_times(tracer.spans)
    by_layer: dict[str, float] = {}
    for s in tracer.spans:
        if s.phase == "measure":
            by_layer[s.layer] = by_layer.get(s.layer, 0.0) + selfs[s.span_id]

    return {
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "per_layer": {k: {"value": float(v), "unit": u} for k, (v, u) in pl.items()},
        "extra": extra,
        "self_time_by_layer_s": by_layer,
        "failures": ops.failures,
        "ops": [
            [s.op_id, s.name, s.kind, round(s.duration, 4), round(s.cpu_s, 4),
             bool(s.attrs.get("failed"))]
            for s in roots
        ],
        "summary": {
            "workload": workload,
            **{k: round(v, 4) for k, v in e2e.items()},
            **{k: (round(v, 4) if isinstance(v, float) else v) for k, v in extra.items()},
        },
    }
