"""Process plumbing shared by the workloads.

Keeps every file a run writes inside the checkout (Spark scratch, the
JVM's temp dir, the event log), starts and stops Spark sessions, reads
the run context and peak resident memory, and summarizes samples.
Nothing here imports the program under test until a session starts,
so a checkout without it fails fast with a clear message.
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"

#: Driver heap for every session; none of the workloads needs more.
DRIVER_MEMORY = "1g"


def require_program() -> None:
    """Exit with code 2 (and no result line) unless the program under
    test sits next to the benchmark."""

    needed = [
        ROOT / "declarative_dataflow_spark" / "__init__.py",
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        ROOT / "oracle_check.py",
        ROOT / "tools" / "scale_testdata.py",
    ]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.is_file()]
    if missing:
        sys.stderr.write(
            "perfbench: the program under test is missing from "
            f"{ROOT}: {', '.join(missing)}\n"
        )
        raise SystemExit(2)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def prepare_env(event_dir: Path | None) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    the checkout, before the JVM is launched. ``event_dir`` switches
    the uncompressed Spark event log on (traced runs only)."""

    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    warehouse = WORK / "warehouse"
    for d in (tmp, local, warehouse):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # The heap is committed and touched up front, so VmHWM does not
    # depend on when the collector chose to grow it.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    )
    args = [
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={warehouse}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    # spark-submit first runs a short-lived launcher JVM of its own.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(previous=None):
    """Stop ``previous`` (if any) and build a fresh session with the
    program's standard configuration. The JVM outlives the stop, so
    only the first call pays for its launch."""

    from declarative_dataflow_spark.session import build_session

    if previous is not None:
        previous.stop()
    return build_session("perfbench")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM plus this Python driver."""

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm) + _vm_hwm_kb("self")) / 1024.0


def host_probe(spark) -> float:
    """Wall of the repository's frozen host-speed probe suite."""

    import bench

    return bench.host_speed_probe(spark)


def run_context(spark) -> dict:
    sc = spark.sparkContext
    return {
        "load1": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit_line(obj: dict) -> None:
    """One JSON object on one line of standard output."""

    sys.stdout.write(json.dumps(obj, sort_keys=True) + "\n")
    sys.stdout.flush()


def now() -> float:
    return time.perf_counter()


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait for the JVM to exit."""

    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - best effort, the wait below decides
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
