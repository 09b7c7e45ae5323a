"""Benchmark of the collection store, end to end and per layer.

    python3 perfbench/run.py --workload search --seed 1 --seconds 25 --trace 0

Runs one workload (``search`` or ``ingest``, see ``perfbench/NOTES.md``) in
one process with one client against ``local[<cores>]``, on inputs drawn
from ``--seed``, and checks every result against a numpy brute force.  The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics folded from a Spark
event log.  Progress and the per-call table go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
DEADLINE_S = 170

sys.path.insert(0, str(HERE))

from pbench import eventlog, report, stats  # noqa: E402
from pbench.workloads import WORKLOADS, Run, layer_tail, log  # noqa: E402

E2E_UNITS = {"setup_s": "s", "search_p50_s": "s", "filtered_search_p50_s": "s",
             "throughput_per_s": "1/s", "recall_at_10": "ratio",
             "space_amp": "ratio"}


def driver_memory() -> str:
    """A quarter of the host's memory, at most 4 GiB: the engine's own
    default (48g) is larger than small hosts."""
    total_kb = 16 * 1024 * 1024
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return f"{max(1024, min(4096, total_kb // 4096))}m"


def pin_environment(work: Path) -> None:
    """Everything the engine reads from the environment, set before its
    first import (``session`` reads ``SPARK_GRAFT_CPUS`` at import)."""
    for d in ("spark-local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(REPO))


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            # Spark 4 compresses event logs with zstd by default
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def execute(workload: str, seed: int, seconds: int, trace: bool,
            work: Path) -> dict:
    t0 = time.perf_counter()
    from bob_vector_db_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("perfbench", extra_conf=spark_conf(work, trace))
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, workload, seed, str(work))
        reps = run.setup()
        metrics = WORKLOADS[workload](run, seconds)
        metrics["setup_s"] = session_s + stats.median(reps)
        log(f"session start {session_s:.3f} s; set-up reps "
            + ", ".join(f"{r:.3f}" for r in reps))
        if trace:
            layer_tail(run)
    finally:
        stop_spark(spark)
    folded = {}
    if trace:
        logs = sorted((work / "eventlog").iterdir())
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        folded = eventlog.fold_path(str(logs[0]))
    for line in report.table(run.rec.calls, folded):
        log(line)
    for name in sorted(metrics):
        log(f"e2e {name} = {metrics[name]:.6g} {E2E_UNITS[name]}")
    if trace:
        out = report.per_layer(run.rec.calls, folded, session_s)
    else:
        out = {k: {"value": metrics[k], "unit": E2E_UNITS[k]}
               for k in E2E_UNITS}
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": out}


def _deadline(_signum, _frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (REPO / "bob_vector_db_spark" / "__init__.py").is_file():
        log(f"engine package bob_vector_db_spark not found under {REPO}")
        return 2
    work = REPO / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        pin_environment(work)
        result = execute(args.workload, args.seed, args.seconds,
                         bool(args.trace), work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
