"""Process plumbing for the benchmark: the per-run work directory and
environment, the Spark session's start and stop, the per-operation
watchdog, peak RSS and the latency summaries."""
from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections.abc import Callable
from typing import Any

CPUS = max(1, min(4, len(os.sched_getaffinity(0))))
JVM_HEAP = "1g"


class WorkDir:
    """Every path a run writes, under ``<checkout>/.perfbench/``: the
    four deposit stores, Spark's local and temp dirs, the event log.
    Removed by :meth:`remove`, which the caller runs in a ``finally``;
    result files go to ``.perfbench/results`` and are kept."""

    def __init__(self, checkout: str, workload: str, seed: int, trace: int):
        base = os.path.join(checkout, ".perfbench")
        self.results = os.path.join(base, "results")
        os.makedirs(self.results, exist_ok=True)
        self.root = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
        self.tmp = os.path.join(self.root, "tmp")
        self.events = os.path.join(self.root, "events")
        for d in (self.tmp, self.events):
            os.makedirs(d)
        self.tag = f"{workload}.seed{seed}.trace{trace}"

    def stores(self, generation: int = 0) -> str:
        """A fresh set of deposit-store roots; exports them."""
        root = os.path.join(self.root, f"stores{generation}")
        for fam in ("DEDUP", "SIM", "LM", "PIPE"):
            os.environ[f"YUKI_SPARK_{fam}_STORE"] = os.path.join(root, fam.lower())
        return root

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def configure_env(checkout: str, data: str, work: WorkDir, event_log: bool) -> None:
    """Environment the engine and its JVM read; set before pyspark
    starts the gateway."""
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = checkout + (os.pathsep + prev if prev else "")
    os.environ["TMPDIR"] = work.tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["YUKI_SPARK_TEST_SF"] = data
    # every JVM the launch starts keeps its temp files in the checkout
    # (no hsperfdata under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work.tmp}"
    conf = [
        f"spark.sql.warehouse.dir={os.path.join(work.tmp, 'warehouse')}",
        f"spark.local.dir={work.tmp}",
    ]
    if event_log:
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir={work.events}",
        ]
    args = " ".join(f"--conf {c}" for c in conf)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {JVM_HEAP} {args} pyspark-shell"


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it; the
    next session launches a fresh JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_python_peak_rss() -> None:
    """Restart this process's peak-RSS count from its current RSS."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb(java_pid: int) -> float:
    """Peak resident set of this Python process plus its JVM child."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(java_pid)) / 1024.0


class Timeout(Exception):
    pass


class Watchdog:
    """bench.py's py4j-hang protocol (its ``_guarded`` and
    ``_cancel_all_jobs``): every operation runs on its own daemon thread
    under a wall-clock limit; a timed-out operation is abandoned there
    and its jobs are cancelled. After ``cascade_limit`` consecutive
    timeouts every later operation fails at once instead of burning the
    limit again."""

    def __init__(self, spark, timeout_s: float, cascade_limit: int = 3):
        self.spark = spark
        self.timeout_s = timeout_s
        self.cascade_limit = cascade_limit
        self.consecutive = 0

    def run(self, fn: Callable[[], Any], timeout_s: float | None = None) -> Any:
        from bench import _cancel_all_jobs, _guarded

        if self.consecutive >= self.cascade_limit:
            raise Timeout("watchdog cascade limit reached")
        limit = timeout_s or self.timeout_s
        box: dict[str, Any] = {}

        def call() -> None:
            box["out"] = fn()

        if _guarded(call, limit) is None:
            self.consecutive += 1
            _cancel_all_jobs(self.spark)
            raise Timeout(f"operation exceeded {limit:.0f} s")
        self.consecutive = 0
        return box["out"]


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, or the maximum when there are ten or fewer."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11  # xs[k] has exactly ten samples above it
    return xs[k], math.floor(100.0 * (k + 1) / n), n


def median(xs: list[float]) -> float:
    return statistics.median(xs)
