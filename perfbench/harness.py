"""Process-level plumbing shared by every workload: the working directory
inside the checkout, the Spark session, timing statistics, resident
memory and the result line.

Nothing here runs at import time; ``prepare_environment`` must be called
before the first Spark session starts, because the JVM and its Python
workers inherit the environment it sets.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
PACKAGE = "cuda_gis_smoothing_spark"

#: driver heap for local mode: far below the host's RAM, enough for the
#: cached cell tables and local checkpoints of the largest workload. The
#: heap is committed at start (-Xms) so that the JVM's resident set
#: does not depend on when the collector chose to grow it.
DRIVER_MEMORY = "2g"


def cores() -> int:
    """CPUs this process may run on (cgroup/affinity aware)."""
    return len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def prepare_environment(run_id: str) -> str:
    """Create a fresh per-run directory under ``WORK`` and point every
    temporary path of this process, the JVM and the Python workers into
    the checkout. Returns the run directory."""
    run_dir = os.path.join(WORK, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "data"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # executors resolve the package from their own sys.path, which holds
    # the checkout only if the JVM happened to start in it
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM, the launcher's included: temp files into the run, and no
    # hsperfdata files (which HotSpot always writes to /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_dir


def clean_run_dir(run_dir: str) -> None:
    """Delete a run's inputs, outputs and scratch; keep its trace."""
    for name in os.listdir(run_dir):
        if name != "trace.json":
            shutil.rmtree(os.path.join(run_dir, name), ignore_errors=True)


def start_session(run_dir: str):
    """A SparkSession from the package's own factory, sized to this host."""
    from cuda_gis_smoothing_spark.session import get_spark

    spark = get_spark(
        app="perfbench",
        cores=cores(),
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn512m",
            "spark.hadoop.hadoop.tmp.dir": os.environ["TMPDIR"],
            # the traced run reads finished jobs back from the status store
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.ui.retainedExecutions": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every process
    below it (the PySpark daemon and workers) have ended."""
    from pyspark import SparkContext

    root = jvm_pid(spark)
    pids = [root, *_descendants(root)]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when this pipe closes
            proc.wait(timeout=timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not pids:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes {pids} outlived the Spark session")


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Stopwatch:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return False


def median(xs) -> float:
    return float(statistics.median(xs))


# -- resident memory ------------------------------------------------------------
def _children_by_parent() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process ended while scanning
            continue
        # the command field may contain spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _descendants(root: int) -> list[int]:
    kids = _children_by_parent()
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus every process below it
    (the PySpark daemon and its Python workers), from /proc VmHWM."""
    root = jvm_pid(spark)
    below = [_hwm_kb(p) for p in _descendants(root)]
    jvm = _hwm_kb(root)
    log(f"peak rss: jvm {jvm / 1024:.0f} MB, {len(below)} processes below it {sum(below) / 1024:.0f} MB")
    return (jvm + sum(below)) / 1024.0


# -- result line ------------------------------------------------------------------
def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the one-line JSON result; it must be the last stdout line."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
