"""Benchmark CLI: one closed-loop client running one workload.

    python3 perfbench/run.py --workload mart_refresh --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/.work/``; the package is imported from the repository root and
is never edited. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see README.md).
"""

from __future__ import annotations

import argparse
import concurrent.futures
import faulthandler
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen
import report
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: input scale per workload (TPC-H-style sf; see datagen.py). Sized so a
#: run fits the benchmark's time budget while each workload keeps the cost
#: profile it exists for.
SCALE = {"mart_refresh": 0.005, "entity_resolution": 0.03, "daily_upserts": 0.01}
#: documents (read by entity_resolution only): two of its DuckDB oracles
#: are quadratic in the count
DOCS = 120
SETUPS = 3
DRIVER_MEMORY = "2g"
OP_TIMEOUT_S = 60.0
SETUP_TIMEOUT_S = 90.0


class OpHang(Exception):
    pass


def pin_environment(run_dir: str) -> dict:
    """Pin every setting the numbers depend on, before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM (launcher, driver, jstack): temp files in the run dir,
        # no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    os.environ.pop("SPARK_MASTER", None)
    return settings


class Runner:
    """Runs every Spark-touching call on one worker thread under a
    watchdog: a call that outlives its timeout is recorded with a Python
    and JVM thread dump, the JVM is killed, and the run ends."""

    def __init__(self, tracer, work_dir: str, dump_path: str):
        self.pool = concurrent.futures.ThreadPoolExecutor(1, "perfbench-op")
        self.tracer = tracer
        self.work_dir = work_dir
        self.dump_path = dump_path
        self.spark = None
        self.jvm_pid: int | None = None
        self.attempted = 0
        self.failed: list[str] = []
        self.ops: list[dict] = []  # traced ops: name, op id, wall interval

    def call(self, name: str, thunk, timeout_s: float = OP_TIMEOUT_S):
        fut = self.pool.submit(thunk)
        try:
            return fut.result(timeout_s)
        except concurrent.futures.TimeoutError:
            self._hang(name, timeout_s)
            raise OpHang(name) from None

    def run_op(self, name: str, thunk) -> float | None:
        """One timed op; returns its latency, or None if it failed."""
        tr = self.tracer
        op_id = f"{len(self.ops)}:{name}"

        def timed():
            if tr is not None and tr.enabled:
                self.spark.sparkContext.setJobGroup(op_id, name)
                tr.op = op_id
            w0, t0 = time.time(), time.perf_counter()
            try:
                thunk()
                return time.perf_counter() - t0
            finally:
                if tr is not None and tr.enabled:
                    self.ops.append({"id": op_id, "name": name, "start": w0,
                                     "end": time.time()})
                    tr.op = None
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

        self.attempted += 1
        try:
            return self.call(name, timed)
        except OpHang:
            raise
        except Exception as e:  # noqa: BLE001 — a failed op is recorded, the run goes on
            self.failed.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None

    def _hang(self, name: str, waited_s: float) -> None:
        self.failed.append(f"{name}: no result after {waited_s:.0f} s")
        with open(self.dump_path, "a") as f:
            f.write(f"=== op {name} hung for {waited_s:.0f} s ===\n--- python ---\n")
            f.flush()
            faulthandler.dump_traceback(file=f)
            if self.jvm_pid is not None:
                f.write("--- jvm ---\n")
                f.flush()
                try:
                    subprocess.run(["jstack", "-l", str(self.jvm_pid)], stdout=f,
                                   stderr=subprocess.STDOUT, timeout=30)
                except (OSError, subprocess.TimeoutExpired) as e:
                    f.write(f"(jstack failed: {e})\n")
        print(f"op {name} hung; thread dumps in {self.dump_path}", file=sys.stderr)
        if self.jvm_pid is not None:
            try:
                os.kill(self.jvm_pid, signal.SIGKILL)
            except OSError:
                pass


def setup_session(runner: Runner, workload, session, catalog, conf: dict, k: int):
    tr = runner.tracer
    if tr is not None:
        tr.op = f"setup{k}"

    def build():
        spark = session.get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        runner.spark = spark
        workload.setup(spark, catalog, runner.work_dir)
        return spark

    t0 = time.perf_counter()
    spark = runner.call(f"setup{k}", build, SETUP_TIMEOUT_S)
    took = time.perf_counter() - t0
    if tr is not None:
        tr.op = None
    return spark, took


def stop_session(runner: Runner, keep_jvm: bool) -> None:
    runner.call("stop", runner.spark.stop)
    if not keep_jvm:
        end_jvm()


def end_jvm() -> None:
    """Close the py4j gateway and wait until its JVM has exited (closing
    its stdin ends a healthy JVM; one the watchdog killed is just reaped)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = None
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — a dead JVM cannot be asked to close
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def measure(runner: Runner, workload, spark, args) -> dict:
    """Whole passes until ``--seconds`` of them have run. A traced run
    mixes untraced and traced passes, so the tracing overhead is measured
    in the same process."""
    tr = runner.tracer
    passes = workload.passes(spark, args.seed)
    out = {"pass_s": [], "op_s": {}, "traced_pass_s": [], "untraced_pass_s": []}
    spent = 0.0
    # traced runs go untraced, traced, untraced (repeating), so a linear
    # drift such as JIT warm-up cancels out of the overhead
    while spent < args.seconds or (tr is not None and len(out["pass_s"]) % 3):
        trace_this = tr is not None and len(out["pass_s"]) % 3 == 1
        t0 = time.perf_counter()
        aside = 0.0  # traced-only observation between ops, not part of the pass
        for name, thunk in next(passes):
            if trace_this:
                a0 = time.perf_counter()
                workload.before_op(name)
                aside += time.perf_counter() - a0
                tr.enabled = True
            took = runner.run_op(name, thunk)
            if trace_this:
                tr.enabled = False
                a0 = time.perf_counter()
                runner.call(f"after:{name}",
                            lambda n=name: workload.after_op(spark, n, tr))
                aside += time.perf_counter() - a0
            if took is not None:
                out["op_s"].setdefault(name, []).append(took)
        wall = time.perf_counter() - t0 - aside
        out["pass_s"].append(wall)
        if tr is not None:
            out["traced_pass_s" if trace_this else "untraced_pass_s"].append(wall)
        spent += wall
    out["traced_ops"] = list(runner.ops)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale instead of the workload's own (self-test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # only located, not imported: the traced run must wrap the layers before
    # __spark_entry__ is imported, because it binds them with ``from … import``
    missing = [m for m in ("__spark_entry__", "tibame_project_spark")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        if "pyspark" in sys.modules:
            end_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    settings = pin_environment(run_dir)
    sf = args.sf if args.sf is not None else SCALE[args.workload]
    wl = workloads.make(args.workload)
    wl.sf_dir = datagen.write_tables(
        os.path.join(run_dir, "data"), args.seed, sf,
        n_docs=DOCS, tables=wl.tables,
    )
    conf = {
        # a fixed, pre-touched heap: the JVM's footprint does not drift with
        # heap-growth decisions, so jvm_peak_rss_mb moves with off-heap use
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.local.dir": settings["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    tracer = None
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        tracer = tracing.Tracer()
        tracer.install()
        tracer.captured["manifest_feed"] = None
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    from tibame_project_spark import catalog, session

    phases["inputs"] = time.perf_counter() - t_start

    print("settings " + json.dumps({
        **{k: v for k, v in settings.items() if k.startswith("SPARK_")},
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "seconds": args.seconds, "trace": args.trace, "setups": SETUPS,
        "warmup": wl.WARMUP, "op_timeout_s": OP_TIMEOUT_S,
    }), flush=True)
    os.makedirs(WORK, exist_ok=True)
    runner = Runner(tracer, run_dir,
                    os.path.join(WORK, f"hang-{args.workload}-{args.seed}.txt"))
    checks_failed: list[str] = []
    try:
        setup_s = []
        for k in range(SETUPS):
            if tracer is not None:
                tracer.enabled = True
            spark, took = setup_session(runner, wl, session, catalog, conf, k)
            if tracer is not None:
                tracer.enabled = False
            setup_s.append(took)
            if k == 0:
                runner.jvm_pid = runner.call("pid", lambda: int(
                    spark._jvm.java.lang.ProcessHandle.current().pid()))
            if k < SETUPS - 1:
                stop_session(runner, keep_jvm=True)
        phases["setup"] = time.perf_counter() - t_start
        checks_failed = wl.warmup_and_check(spark, runner.run_op, args.seed)
        phases["warmup"] = time.perf_counter() - t_start
        m = measure(runner, wl, spark, args)
        phases["measure"] = time.perf_counter() - t_start
        if tracer is not None:
            tracer.enabled = True
        checks_failed += wl.finish(spark, runner)
        if tracer is not None:
            tracer.enabled = False
        rss = jvm_peak_rss_mb(runner.jvm_pid)
        stop_session(runner, keep_jvm=False)
        phases["stop"] = time.perf_counter() - t_start
    except OpHang:
        end_jvm()
        print(json.dumps({"correct": False, "attempted": runner.attempted,
                          "failed": len(runner.failed), "metrics": {}}), flush=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(0)  # the hung worker thread may never return
    print("phases_end_s " + json.dumps({k: round(v, 2) for k, v in phases.items()}))
    failed = len(runner.failed) + len(checks_failed)
    for line in runner.failed + checks_failed:
        print(f"FAILED {line}")
    if args.trace:
        metrics = report.per_layer(tracer, m["traced_ops"], wl, m, log_dir,
                                   int(settings["SPARK_GRAFT_CPUS"]))
    else:
        metrics = report.end_to_end(wl, m, setup_s, rss, runner.attempted, failed)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
