"""Fast self-test of the benchmark: every workload once untraced and once
traced, on tiny generated inputs.

    python3 perfbench/selftest.py

Checks, per workload: the run exits 0; its last stdout line is the result
object with exactly ``correct``/``attempted``/``failed``/``metrics``; every
metric ``BENCHMARK.json`` names for that mode is present with its unit; the
correctness checks passed; the workload's own metric lines (the
``mart_*``, ``er_*``, ``fresh_*``, ``lookup_*`` names in README.md) are
printed with their units; and, traced, the layers a workload must not touch
report zero. Last, it checks that the benchmark refuses to run, printing no
result, in a directory holding only ``BENCHMARK.json`` and ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF = "0.001"

#: the workload's own metric lines, printed before the result object
NAMED = {
    "mart_refresh": ["setup_s", "mart_pass_s", "mart_query_p50_s",
                     "mart_query_tail_s", "mart_query_geomean_s",
                     "ops_failed_ratio", "jvm_peak_rss_mb"],
    "entity_resolution": ["setup_s", "er_pass_s", "er_query_p50_s",
                          "er_query_tail_s", "er_query_geomean_s",
                          "ops_failed_ratio", "jvm_peak_rss_mb"],
    "daily_upserts": ["setup_s", "days_pass_s", "fresh_p50_s", "fresh_tail_s",
                      "fresh_geomean_s", "lookup_p50_s", "lookup_tail_s",
                      "stored_bytes_ratio", "ops_failed_ratio", "jvm_peak_rss_mb"],
}
UNITS = {"ops_failed_ratio": "ratio", "stored_bytes_ratio": "ratio",
         "jvm_peak_rss_mb": "MB"}

#: traced: metric prefixes that must read zero on a workload
ZERO = {
    "mart_refresh": ["sources.manifest.", "streaming.incremental.epochs",
                     "operators.similarity."],
    "entity_resolution": ["sources.manifest.", "streaming.incremental."],
    "daily_upserts": ["operators.similarity."],
}


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", SF]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check(workload: str, trace: int, spec: dict) -> list[str]:
    p = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    bad = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        bad.append(f"{where}: result keys {sorted(res)}")
    if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
        bad.append(f"{where}: correct={res['correct']} failed={res['failed']}: "
                   + "; ".join(x for x in lines if x.startswith("FAILED")))
    want = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    if sorted(got) != sorted(m["name"] for m in want):
        bad.append(f"{where}: metrics {sorted(set(got) ^ {m['name'] for m in want})} "
                   "differ from BENCHMARK.json")
    for m in want:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            bad.append(f"{where}: {m['name']} = {v}")
    if trace:
        for prefix in ZERO[workload]:
            nz = {k: v["value"] for k, v in got.items()
                  if k.startswith(prefix) and v["value"] != 0}
            if nz:
                bad.append(f"{where}: expected zero: {nz}")
    else:
        printed = {x.split()[0]: x.split()[2] for x in lines[:-1] if len(x.split()) > 2}
        for name in NAMED[workload]:
            unit = UNITS.get(name, "s")
            if printed.get(name) != unit:
                bad.append(f"{where}: no '{name} <value> {unit}' line")
    return bad


def check_refuses_without_engine() -> list[str]:
    os.makedirs(WORK, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=WORK) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        p = run(d, "mart_refresh", 0)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = check_refuses_without_engine()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs = check(w["name"], trace, spec)
            print(f"{w['name']} --trace {trace}: {'ok' if not errs else 'FAIL'}",
                  flush=True)
            bad += errs
    for b in bad:
        print(b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
