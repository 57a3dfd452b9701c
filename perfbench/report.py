"""Fold one run's measurements into the metrics the benchmark reports.

End-to-end metrics (``--trace 0``) have the same names on every workload;
``README.md`` maps each to the workload-specific quantity it measures and
the lines printed before the JSON repeat them under those names.
Per-layer metrics (``--trace 1``) are per traced pass unless their name
says otherwise (``vacuum_s``, ``live_files``, ``stored_bytes_ratio``,
``lookup_files_scanned_ratio`` and ``failed`` cover the whole run).
"""

from __future__ import annotations

import json
import math
import os
import statistics

import tracing

#: tail = the highest of these percentiles with >= 10 samples beyond it
TAIL_LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "jvm_peak_rss_mb": "MB",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """``(percentile, value)``: the nearest-rank value at the highest
    ladder percentile that leaves at least ten samples beyond it (the
    median when there are fewer than twenty samples)."""
    xs = sorted(samples)
    n = len(xs)
    p = next((p for p in TAIL_LADDER if n * (1 - p) >= 10), 0.5)
    if p == 0.5:
        return p, statistics.median(xs)
    return p, xs[-int(-p * n // 1) - 1]


def _latency(name: str, xs: list[float], lines: list[str]) -> float:
    """Appends the median and tail lines; returns the median."""
    p50 = statistics.median(xs)
    p, t = tail(xs)
    lines.append(f"{name}_p50_s {p50:.4f} s  (n={len(xs)})")
    lines.append(
        f"{name}_tail_s {t:.4f} s  (p{p * 100:g} of n={len(xs)}, "
        f"{len(xs) + int(-p * len(xs) // 1)} beyond)"
    )
    return p50


def _typical(name: str, xs: list[float], of: str, lines: list[str]) -> float:
    """Appends and returns the geometric mean of ``xs``. Unlike the median
    of ops with different costs, it does not jump when two ops near the
    middle swap places, and each op weighs by its relative change, however
    long it takes."""
    g = math.exp(statistics.fmean(map(math.log, xs)))
    lines.append(f"{name}_geomean_s {g:.4f} s  (geometric mean of {len(xs)} {of})")
    return g


def _list(xs: list[float]) -> str:
    return ", ".join(f"{x:.3f}" for x in xs)


def end_to_end(wl, m: dict, setup_s: list[float], rss_mb: float,
               attempted: int, failed: int) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics; prints the workload's own names first."""
    lines = [
        f"setup_s {statistics.median(setup_s):.4f} s  (median of "
        f"{len(setup_s)}: {_list(setup_s)}; the first launches the JVM)",
    ]
    prefix = {"mart_refresh": "mart", "entity_resolution": "er"}.get(wl.name)
    pass_s = statistics.median(m["pass_s"])
    if prefix:
        ops = [x for xs in m["op_s"].values() for x in xs]
        lines.append(f"{prefix}_pass_s {pass_s:.4f} s  (median of "
                     f"{len(m['pass_s'])} passes: {_list(m['pass_s'])})")
        _latency(f"{prefix}_query", ops, lines)
        typical = _typical(
            f"{prefix}_query",
            [statistics.median(xs) for xs in m["op_s"].values()],
            "per-query medians", lines,
        )
    else:
        lines.append(f"days_pass_s {pass_s:.4f} s  (median of {len(m['pass_s'])} "
                     f"passes of {wl.DAYS_PER_PASS} days: {_list(m['pass_s'])})")
        _latency("fresh", m["op_s"]["fresh"], lines)
        typical = _typical("fresh", m["op_s"]["fresh"], "days", lines)
        _latency(
            "lookup",
            m["op_s"].get("lookup_point", []) + m["op_s"].get("lookup_range", []),
            lines,
        )
        lines.append(f"stored_bytes_ratio {wl.stored_bytes_ratio:.4f} ratio")
    lines.append(f"ops_failed_ratio {failed / max(1, attempted):.4f} ratio  "
                 f"({failed} of {attempted})")
    lines.append(f"jvm_peak_rss_mb {rss_mb:.1f} MB")
    lines.append("op_median_s " + json.dumps(
        {k: round(statistics.median(v), 4) for k, v in sorted(m["op_s"].items())}))
    for line in lines:
        print(line)
    values = {
        "setup_s": statistics.median(setup_s),
        "pass_s": pass_s,
        "op_geomean_s": typical,
        "jvm_peak_rss_mb": rss_mb,
    }
    return {k: (v, END_TO_END_UNITS[k]) for k, v in values.items()}


def _outermost(spans, name: str) -> list:
    """Spans called ``name`` with no ancestor of the same name."""
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and p.name != name:
            p = p.parent
        if p is None:
            out.append(s)
    return out


def _dur(spans) -> float:
    return sum(s.end - s.start for s in spans)


def _under(span, layer: str) -> bool:
    p = span.parent
    while p is not None:
        if p.layer == layer:
            return True
        p = p.parent
    return False


def per_layer(tracer, ops: list[dict], wl, m: dict, log_dir: str,
              cpus: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans, py4j counts and event log of the
    traced passes (``ops``: their op records, in order)."""
    n_pass = len(m["traced_pass_s"])
    ids = {o["id"] for o in ops}
    spans = [s for s in tracer.spans if s.op in ids]
    run_spans = [s for s in tracer.spans if s.op is not None
                 and not s.op.startswith("setup")]
    out: dict[str, tuple[float, str]] = {}

    def put(name, value, unit, per_pass=True):
        out[name] = (value / n_pass if per_pass else value, unit)

    boots = [s.end - s.start for s in tracer.spans
             if s.op and s.op.startswith("setup") and s.name == "get_spark"]
    put("session.boot_s", statistics.median(boots), "s", per_pass=False)

    loads = _outermost([s for s in spans if s.layer == "catalog"], "load")
    put("catalog.load_calls", len(loads), "count")
    put("catalog.load_s", _dur(loads), "s")

    man = [s for s in spans if s.layer == "sources.manifest"]
    for short, fn in [("write", "write_manifest_table"),
                      ("merge", "merge_manifest_table"),
                      ("compact", "compact_manifest_table"),
                      ("read", "read_manifest_table"),
                      ("feed", "manifest_feed")]:
        put(f"sources.manifest.{short}_s", _dur(_outermost(man, fn)), "s")
    put("sources.manifest.vacuum_s",
        _dur(_outermost(run_spans, "vacuum_manifest_table")), "s", per_pass=False)
    put("sources.manifest.merge_calls",
        len(_outermost(man, "merge_manifest_table")), "count")
    io = getattr(wl, "io", {})
    put("sources.manifest.files_written", io.get("files_written", 0), "count")
    put("sources.manifest.bytes_written", io.get("bytes_written", 0), "B")
    put("sources.manifest.live_files", getattr(wl, "live_files", 0), "count",
        per_pass=False)
    scanned, live = io.get("lookup_files_scanned", 0), io.get("lookup_files_live", 0)
    put("sources.manifest.lookup_files_scanned_ratio",
        scanned / live if live else 0.0, "ratio", per_pass=False)
    put("sources.manifest.failed",
        sum(s.raised for s in run_spans if s.layer == "sources.manifest"),
        "count", per_pass=False)
    put("sources.manifest.stored_bytes_ratio",
        getattr(wl, "stored_bytes_ratio", 0.0), "ratio", per_pass=False)

    stream = [s for s in spans if s.layer == "streaming.incremental"]
    put("streaming.incremental.self_s", sum(s.self_s for s in stream), "s")
    put("streaming.incremental.epochs",
        sum(1 for s in man if s.name in ("merge_manifest_table", "delete_manifest_table")
            and _under(s, "streaming.incremental")), "count")
    maintain = [s for s in spans if s.name == "maintain_mart_from_feed"]
    put("plans.warehouse.maintain_self_s", sum(s.self_s for s in maintain), "s")
    put("plans.warehouse.feed_rows", io.get("feed_rows", 0), "count")

    jobs, task = tracing.read_event_log(log_dir)
    by_op: dict[str, list] = {o["id"]: [] for o in ops}
    for jid, job in jobs.items():
        op = job["group"] if job["group"] in by_op else next(
            (o["id"] for o in ops
             if o["start"] * 1e3 <= job["start_ms"] <= o["end"] * 1e3), None)
        if op is not None:
            by_op[op].append(jid)
    spark_tot = dict.fromkeys(
        ["tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_records",
         "output_bytes"], 0.0)
    exec_s = dict.fromkeys(tracing.PLAN_LAYERS, 0.0)
    n_jobs = n_stages = 0
    nojob_s = wall_s = 0.0
    for o in ops:
        op_jobs = by_op[o["id"]]
        n_jobs += len(op_jobs)
        n_stages += sum(jobs[j]["stages"] for j in op_jobs)
        for k in spark_tot:
            spark_tot[k] += sum(task.get(j, {}).get(k, 0.0) for j in op_jobs)
        owner = tracer.op_owner([s for s in spans if s.op == o["id"]])
        if owner is not None:
            exec_s[owner] += sum(task.get(j, {}).get("task_run_s", 0.0) for j in op_jobs)
        wall = o["end"] - o["start"]
        wall_s += wall
        busy = tracing.union_s([
            (max(jobs[j]["start_ms"] / 1e3, o["start"]),
             min(jobs[j]["end_ms"] / 1e3, o["end"]))
            for j in by_op[o["id"]]
            if jobs[j]["end_ms"] / 1e3 > o["start"] and jobs[j]["start_ms"] / 1e3 < o["end"]
        ])
        nojob_s += wall - busy
    for layer in tracing.PLAN_LAYERS:
        put(f"{layer}.build_s",
            sum(s.self_s for s in spans if s.layer == layer), "s")
        put(f"{layer}.exec_s", exec_s[layer], "s")
    put("spark.jobs", n_jobs, "count")
    put("spark.stages", n_stages, "count")
    units = {"tasks": "count", "input_records": "count"}
    for k, v in spark_tot.items():
        put(f"spark.{k}", v, units.get(k, "s" if k.endswith("_s") else "B"))
    put("spark.busy_ratio",
        spark_tot["task_run_s"] / (cpus * wall_s) if wall_s else 0.0,
        "ratio", per_pass=False)
    put("driver.py4j_calls", sum(tracer.py4j.get(i, 0) for i in ids), "count")
    put("driver.nojob_s", nojob_s, "s")
    put("trace.overhead_s",
        statistics.median(m["traced_pass_s"]) - statistics.median(m["untraced_pass_s"]),
        "s", per_pass=False)
    return out


def dir_files(path: str) -> dict[str, int]:
    """``{file: bytes}`` under ``path``."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    }
