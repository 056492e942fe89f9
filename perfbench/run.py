#!/usr/bin/env python3
"""End-to-end benchmark of the incremental engine.

    python3 perfbench/run.py --workload github_incremental --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run generates the workload's inputs
from ``--seed``, sets the engine up ``SETUP_REPS`` times (session start,
staging, one warm-up step; the median is ``setup_s``), then runs the
workload's closed loop for ``--seconds`` and checks the engine's output.
With ``--trace 0`` the last line of stdout carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a traced
run (spans around the engine's public calls plus Spark's event log).
Lines before it are diagnostics. The exit code is nonzero when any
operation fails or any output check does not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))  # the benchmark's modules
sys.path.insert(1, str(ROOT))  # the program under test

import layers  # noqa: E402
import procstat  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 2  # set-ups per run (one cold, then warm); setup_s is their median
TRACE_STEPS = 1  # per-layer figures cover this many first steps, so counts repeat
DRIVER_MEM = "2g"


def _session_env(work: Path) -> None:
    """Environment the JVM and its Python workers inherit: the program
    under test on the path, every scratch directory inside ``work``."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(procstat.ncpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")


def start_session(work: Path, event_dir: Path | None):
    from incremental_github_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # fixed compiler threads, so their CPU can be told apart (procstat);
        # no hsperfdata file, which the JVM would write under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}"
        " -XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData",
    }
    if event_dir is not None:
        conf.update(spans.spark_conf(event_dir))
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark() -> None:
    """Stop the session, the JVM and every process they started, and
    wait for each to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    kids = procstat.descendants()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in kids:
        while procstat.alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def set_up(args, work: Path, event_dir: Path | None):
    """``SETUP_REPS`` set-ups: each starts a session, stages fresh
    directories and runs one untimed warm-up step. Only the last one's
    session and workload are kept."""
    setups, session_s, gen_s = [], [], 0.0
    for rep in range(SETUP_REPS):
        wl = WORKLOADS[args.workload](args.seed, work / f"rep{rep}")  # generates step 1
        t0, g0 = time.perf_counter(), wl.generate_s
        # only the session the timed loop uses writes an event log
        spark = start_session(work, event_dir if rep == SETUP_REPS - 1 else None)
        session_s.append(time.perf_counter() - t0)
        wl.step(spark)  # generates the next step's inputs: taken out below
        setups.append(time.perf_counter() - t0 - (wl.generate_s - g0))
        if rep < SETUP_REPS - 1:
            gen_s += wl.generate_s
            spark.stop()
            shutil.rmtree(work / f"rep{rep}")
    return wl, spark, {"generate_s": gen_s, "setup_reps_s": setups, "session_start_s": session_s}


def timed_loop(wl, spark, seconds: float, tracer) -> list[list]:
    """Closed loop: steps until ``seconds`` have passed, at least one."""
    steps: list[list] = []
    t_start = time.perf_counter()
    while not steps or time.perf_counter() - t_start < seconds:
        if tracer is not None:
            tracer.step = len(steps)
        steps.append(wl.step(spark))
    return steps


def op_diagnostics(ops) -> dict:
    out = {}
    for kind in ("batch", "query", "mix"):
        mine = [op for op in ops if op.kind == kind]
        if not mine:
            continue
        lat = [op.wall_s for op in mine]
        t = stats.tail(lat)
        out[f"{kind}_wall_s"] = lat
        out[f"{kind}_cpu_s"] = [op.cpu_s for op in mine]
        out[f"{kind}_jit_cpu_s"] = [op.jit_s for op in mine]
        out[f"{kind}_latency_p50_s"] = statistics.median(lat)
        out[f"{kind}_latency_tail"] = (
            {"percentile": t[0], "value_s": t[1], "samples": len(lat)}
            if t
            else f"nothing above p50 with {len(lat)} samples"
        )
    return out


def end_to_end(setups: list[float], steps: list[list]) -> dict[str, tuple[float, str]]:
    batches = [op for s in steps for op in s if op.kind == "batch"]
    rows = sum(op.rows for op in batches)
    return {
        "setup_s": (statistics.median(setups), "s"),
        "batch_latency_p50_s": (statistics.median([op.wall_s for op in batches]), "s"),
        "step_latency_p50_s": (statistics.median([sum(op.wall_s for op in s) for s in steps]), "s"),
        "ingest_rows_per_s": (rows / sum(op.wall_s for op in batches), "rows/s"),
        "ingest_cpu_s_per_krow": (sum(op.cpu_s for op in batches) / (rows / 1000), "cpu_s/krow"),
    }


def run(args, work: Path) -> dict:
    _session_env(work)
    event_dir = work / "events" if args.trace else None
    host0, load0 = procstat.HostSnapshot.take(), procstat.loadavg_1m()
    wl, spark, diag = set_up(args, work, event_dir)

    tracer = patches = None
    if args.trace:
        tracer = spans.Tracer()
        patches = tracer.patch(layers.targets(tracer))
        wl.tracer = tracer
    t0 = time.perf_counter()
    try:
        steps = timed_loop(wl, spark, args.seconds, tracer)
    finally:
        if patches is not None:
            patches.undo()
    diag["loop_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    failures = wl.check(spark)
    diag["check_s"] = time.perf_counter() - t0
    diag["generate_s"] += wl.generate_s
    host1 = procstat.HostSnapshot.take()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # the check covers the state every step built, so a failed check
    # fails them all; a step that raises aborts the run instead
    failed = len(steps) if failures else 0
    steal = procstat.steal_ratio(host0, host1)
    diag.update(
        steps=len(steps),
        failed_ratio=failed / len(steps),
        **{"host.steal_ratio": steal, "host.loadavg_1m_start": load0, "host.nproc": procstat.ncpus()},
        **op_diagnostics([op for s in steps for op in s]),
    )
    if tracer is not None:
        diag["spans"] = [
            [s.name, round(s.start, 3), round(s.end, 3), s.parent, s.step] for s in tracer.spans
        ]
    for f in failures:
        print(f"CHECK FAILED: {f}")
    print("diagnostics " + json.dumps(diag))

    metrics = end_to_end(diag["setup_reps_s"], steps)
    if args.trace:
        log = spans.parse_event_log(spans.event_files(event_dir, app_id))
        traced = steps[:TRACE_STEPS]
        extra = {
            "session.get_spark.wall_s": (statistics.median(diag["session_start_s"]), "s"),
            "host.steal_ratio": (steal, "ratio"),
            "host.loadavg_1m_start": (load0, "load"),
            "trace.batch_latency_p50_s": metrics["batch_latency_p50_s"],
            "trace.step_latency_p50_s": metrics["step_latency_p50_s"],
        }
        metrics = layers.per_layer(tracer.spans, log, len(traced), extra)
    return {
        "correct": not failures,
        "attempted": len(steps),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "incremental_github_data_pipeline_spark").is_dir():
        print("the engine package is not in this checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            shutdown_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
