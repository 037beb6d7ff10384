"""Turns the harness's raw samples into the named metrics."""
from . import stats

# end-to-end metrics in the final JSON line: they apply to every workload
END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "ops_per_s": "1/s",
    "retained_heap_mb": "MB",
}

# per-layer metrics in the final JSON line of a traced run: measured on
# every workload
PER_LAYER = {
    "plans.analysis_ms": "ms/op",
    "plans.optimization_ms": "ms/op",
    "plans.planning_ms": "ms/op",
    "plans.graft_rules_ms": "ms/op",
    "queries.build_ms": "ms/op",
    "sources.input_bytes": "B/op",
    "sources.input_rows": "rows/op",
    "sources.files_read": "files/op",
    "sources.rows_per_result_row": "ratio",
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.sched_delay_ms": "ms/op",
    "exec.slot_util": "ratio",
    "exec.stage_skew": "ratio",
    "exec.job_gap_ms": "ms/op",
    "exec.task_cpu_ms": "ms/op",
    "exec.task_run_ms": "ms/op",
    "shuffle.write_bytes": "B/op",
    "shuffle.read_bytes": "B/op",
    "jvm.gc_ms": "ms/op",
    "self.plans_ms": "ms/op",
    "self.exec_ms": "ms/op",
    "self.driver_ms": "ms/op",
    "trace.overhead_pct": "%",
}

# per-layer metrics reported (in the text report and the trace side file)
# only on the workloads that exercise the layer
WORKLOAD_LAYER = {
    "catalog.load_table_ms": "ms/op",
    "self.catalog_ms": "ms/op",
    "shuffle.fetch_wait_ms": "ms/op",
    "spill.bytes": "B/op",
    "operators.materializations": "count/op",
    "operators.release_ms": "ms/op",
    "catalog.commit_driver_ms": "ms/op",
    "catalog.files_written": "files/op",
    "catalog.bytes_written": "B/op",
    "catalog.write_amp": "ratio",
    "catalog.files_live": "files",
    "catalog.dv_files": "files",
    "catalog.files_per_point_read": "files/op",
    "catalog.bloom_skip_ratio": "ratio",
    "catalog.compact_ms": "ms/op",
    "catalog.compact_bytes_rewritten": "B/op",
}

TIMED_KINDS = ("sql", "operator", "read", "write", "maint")


def timed_ops(raw):
    return [o for o in raw["ops"] if o["kind"] in TIMED_KINDS]


def ops_per_s(ops):
    """Each client's ops over the time to its last op's end, summed over
    clients: a client that finished early does not dilute the rate."""
    ends, n = {}, {}
    for o in ops:
        c = o["client"]
        ends[c] = max(ends.get(c, 0.0), o["start_ms"] + o["ms"])
        n[c] = n.get(c, 0) + 1
    return sum(n[c] / (ends[c] / 1000.0) for c in n)


def counts(raw):
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    return attempted, failed


def _pct(samples, q):
    v, why = stats.percentile(samples, q)
    return v, len(samples), why


def end_to_end(raw):
    """(metrics for the JSON line, notes) — p50 falls back to the plain
    median, with a note, when a run is too short for the picker."""
    ops = timed_ops(raw)
    ms = [o["ms"] for o in ops]
    notes = []
    p50, _, why = _pct(ms, 0.5)
    if p50 is None:
        notes.append(f"p50_ms: {why}; reporting the plain median")
        p50 = stats.median(ms) if ms else float("nan")
    vals = {
        "setup_s": stats.median(raw["setup_s"]),
        "p50_ms": p50,
        "ops_per_s": ops_per_s(ops),
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}, notes


def named_report(raw):
    """The per-workload end-to-end figures, as rows of
    (name, value or None, unit, samples, note)."""
    ops = timed_ops(raw)
    w = raw["workload"]
    rows = [("setup_s", stats.median(raw["setup_s"]), "s", len(raw["setup_s"]), "")]

    def pct_rows(prefix, kinds, applies):
        sel = [o["ms"] for o in ops if o["kind"] in kinds]
        for q in (0.5, 0.9):
            name = f"{prefix}_p{round(q * 100)}_ms"
            if not applies:
                rows.append((name, None, "ms", 0, f"n/a on {w}"))
                continue
            v, n, why = _pct(sel, q)
            rows.append((name, v, "ms", n, why or ""))
        if applies:
            # the highest percentile these samples support, when p90 is not
            tq, tv = stats.tail_percentile(sel)
            if tq is not None and tq < 0.9:
                rows.append((f"{prefix}_p{round(tq * 100)}_ms", tv, "ms", len(sel), "highest supported"))

    pct_rows("sql", ("sql",), w == "sql_star")
    rows.append(("sql_qps", ops_per_s(ops) if w == "sql_star" else None, "1/s",
                 len(ops) if w == "sql_star" else 0, "" if w == "sql_star" else f"n/a on {w}"))
    passes = raw["extra"].get("pass_s", [])
    rows.append(("ops_pass_s", stats.median(passes) if passes else None, "s", len(passes),
                 "" if passes else f"n/a on {w}"))
    pct_rows("write", ("write", "maint"), w == "warehouse_rw")
    pct_rows("read", ("read",), w == "warehouse_rw")
    rw = w == "warehouse_rw"
    rows.append(("rw_ops_per_s", ops_per_s(ops) if rw else None, "1/s",
                 len(ops) if rw else 0, "" if rw else f"n/a on {w}"))
    rows.append(("space_amp", raw["extra"].get("space_amp"), "ratio", 1 if rw else 0,
                 "" if rw else f"n/a on {w}"))
    attempted, failed = counts(raw)
    rows.append(("failed_frac", stats.failed_frac(attempted, failed), "ratio", attempted, ""))
    rows.append(("retained_heap_mb", raw["retained_heap_mb"], "MB", 1, ""))
    return rows


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw, overhead_pct):
    """(metrics for the JSON line, workload-specific extras)."""
    lay = raw["layers"]
    per_op = [p for p in lay["per_op"] if p["kind"] in TIMED_KINDS]

    def m(key):
        return _mean(p.get(key, 0.0) for p in per_op)

    def total(key):
        return sum(p.get(key, 0.0) for p in per_op)

    result_rows = total("result_rows")
    skews = lay["stage_skew"]
    vals = {
        "plans.analysis_ms": m("analysis_ms"),
        "plans.optimization_ms": m("optimization_ms"),
        "plans.planning_ms": m("planning_ms"),
        "plans.graft_rules_ms": m("graft_rules_ms"),
        "queries.build_ms": m("build_ms"),
        "sources.input_bytes": m("input_bytes"),
        "sources.input_rows": m("input_rows"),
        "sources.files_read": m("files_read"),
        "sources.rows_per_result_row": total("input_rows") / max(1.0, result_rows),
        "exec.jobs": m("jobs"),
        "exec.stages": m("stages"),
        "exec.tasks": m("tasks"),
        "exec.sched_delay_ms": m("sched_delay_ms"),
        "exec.slot_util": lay["task_run_ms_window"] / (raw["window_s"] * 1000.0 * raw["cores"]),
        "exec.stage_skew": stats.median(skews) if skews else 1.0,
        "exec.job_gap_ms": _mean(p["wall_ms"] - p["jobs_union_ms"] for p in per_op),
        "exec.task_cpu_ms": m("task_cpu_ms"),
        "exec.task_run_ms": m("task_run_ms"),
        "shuffle.write_bytes": m("shuffle_write_bytes"),
        "shuffle.read_bytes": m("shuffle_read_bytes"),
        "jvm.gc_ms": raw["gc_ms"] / max(1, len(per_op)),
        "self.plans_ms": m("self_plans_ms"),
        "self.exec_ms": m("self_exec_ms"),
        "self.driver_ms": m("self_driver_ms"),
        "trace.overhead_pct": overhead_pct,
    }
    extras = {
        "catalog.load_table_ms": m("load_table_ms"),
        "self.catalog_ms": m("self_catalog_ms"),
        "shuffle.fetch_wait_ms": m("fetch_wait_ms"),
        "spill.bytes": m("spill_bytes"),
    }
    if raw["workload"] == "corpus_ops":
        extras["operators.materializations"] = m("operators.materializations")
        extras["operators.release_ms"] = m("release_ms")
    if raw["workload"] == "warehouse_rw":
        extras.update(warehouse_layer(raw, per_op))
    metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in vals.items()}
    return metrics, {k: {"value": v, "unit": WORKLOAD_LAYER[k]} for k, v in extras.items()}


def warehouse_layer(raw, per_op):
    ex = raw["extra"]
    writes = [p for p in per_op if p["kind"] == "write"]
    written = ex.get("written", [])
    dml = [w for w in written if w["op"] not in ("compact", "expire_snapshots")]
    compacts = [w for w in written if w["op"] == "compact"]
    bytes_per_row = ex["live_bytes"] / max(1, ex["live_rows"])
    changed = sum(p.get("rows_changed", 0.0) for p in writes)
    points = [p for p in per_op if p["kind"] == "read" and p["name"] == "point"]
    fppr = _mean(p.get("files_read", 0.0) for p in points)
    return {
        "catalog.commit_driver_ms": _mean(p["wall_ms"] - p["jobs_union_ms"] for p in writes),
        "catalog.files_written": _mean(w["files"] for w in dml),
        "catalog.bytes_written": _mean(w["bytes"] for w in dml),
        "catalog.write_amp": sum(w["bytes"] for w in dml) / max(1.0, changed * bytes_per_row),
        "catalog.files_live": float(ex["files_live"]),
        "catalog.dv_files": float(ex["dv_files"]),
        "catalog.files_per_point_read": fppr,
        "catalog.bloom_skip_ratio": 1.0 - fppr / max(1, ex["files_live"]),
        "catalog.compact_ms": _mean(p["wall_ms"] for p in per_op
                                    if p["kind"] == "maint" and p["name"] == "compact"),
        "catalog.compact_bytes_rewritten": _mean(w["bytes"] for w in compacts),
    }
