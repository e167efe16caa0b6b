"""Run environment, resource accounting and the closed loop shared by
the workloads.

CPU is counted for the whole process tree the benchmark starts: this
Python driver, the Spark JVM it launches and the Python workers under
that JVM, live or already reaped. It is read from ``os.times()`` and
``/proc/<pid>/stat``, so it needs Linux.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from collections.abc import Callable
from dataclasses import dataclass, field

# Spark task threads: fewer than the cores, so the driver JVM (query
# planning, scheduling, JIT) and the Python driver keep a core; capped
# so hosts with more cores run the same plans. On a 4-vCPU host, 2
# threads ran a sweep of registry queries in less wall time and less
# CPU than 3.
MAX_TASK_THREADS = 2
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def task_threads() -> int:
    return max(1, min(MAX_TASK_THREADS, len(os.sched_getaffinity(0)) - 1))


def pin_environment() -> None:
    """Drop inherited program settings and pin the ones the session
    factory reads, before the program is imported."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(task_threads())
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(SHUFFLE_PARTITIONS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY


def process_start_time() -> float:
    """Wall-clock time this process was started, to 10 ms: its age
    (uptime minus start time, both counted from boot) before now."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / _CLK_TCK)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the parenthesised command name, from state on
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # exited meanwhile
        return None


def descendants(root: int) -> list[int]:
    """Live descendants of ``root``, from a single pass over /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds() -> float:
    """CPU seconds (user + system) of this process, its reaped
    children, and every live descendant including what they reaped."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    for pid in descendants(os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15]) / _CLK_TCK
    return total


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process tree."""
    kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        kb += int(ln.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def start_session(tmp_dir: str):
    """The program's own session factory, with scratch space, the
    warehouse and the JVM temp dir inside ``tmp_dir``. Every JVM the
    launcher starts skips its /tmp/hsperfdata file."""
    from iceberg_playground_spark import session

    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"
    )
    return session.get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(tmp_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and the Python workers under
    it) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    # the JVM exits when its stdin closes; kill it if it lingers
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.05)


@dataclass
class Timed:
    """The timed phase of one workload run."""

    op_ms: list[float] = field(default_factory=list)
    elapsed_s: float = 0.0
    cpu_s: float = 0.0
    first_op_wall: float = 0.0  # time.time() when the first timed op began


def closed_loop(
    op: Callable[[int], None],
    seconds: float,
    round_len: int = 1,
    first: int = 0,
) -> Timed:
    """One client: op(i) runs only after op(i - 1) returned. Whole
    rounds of ``round_len`` ops run until ``seconds`` have passed."""
    out = Timed()
    out.first_op_wall = time.time()
    cpu0 = tree_cpu_seconds()
    t0 = time.perf_counter()
    i = first
    while True:
        a = time.perf_counter()
        op(i)
        out.op_ms.append((time.perf_counter() - a) * 1000.0)
        i += 1
        if (i - first) % round_len == 0 and time.perf_counter() - t0 >= seconds:
            break
    out.elapsed_s = time.perf_counter() - t0
    out.cpu_s = tree_cpu_seconds() - cpu0
    return out


def end_to_end(timed: Timed, setup_s: float) -> dict[str, dict]:
    n = len(timed.op_ms)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": statistics.median(timed.op_ms), "unit": "ms"},
        "ops_per_min": {"value": n * 60.0 / timed.elapsed_s, "unit": "ops/min"},
        "cpu_ms_per_op": {"value": timed.cpu_s * 1000.0 / n, "unit": "ms"},
    }
