"""Host sizing, Spark session lifecycle, resource sampling and result
printing shared by every workload.

Everything here is derived from the host the benchmark runs on: the
Spark master is ``local[nproc]``, shuffle partitions equal the core
count, and the driver heap is a quarter of ``MemTotal``.  All files the
run writes (Spark local dirs, event logs, JVM temp files) live under
the checkout's ``.bench_work`` directory.
"""

from __future__ import annotations

import json
import os
import pathlib
import statistics
import threading
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_work"


# ------------------------------------------------------------------ host
def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A quarter of physical memory, clamped to [1g, 8g]: the JVM is the
    whole engine in local mode, but the host is shared."""
    gib = host_mem_bytes() // 4 // (1 << 30)
    return f"{max(1, min(gib, 8))}g"


def proc_stat() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq = fields[:7]
    steal = fields[7] if len(fields) > 7 else 0
    total = sum(fields[:8])
    return total, user + nice + system + irq + softirq, steal


def host_health(before: tuple[int, int, int], after: tuple[int, int, int]) -> dict:
    total = max(after[0] - before[0], 1)
    return {
        "host.busy_frac": (after[1] - before[1]) / total,
        "host.steal_frac": (after[2] - before[2]) / total,
    }


# ------------------------------------------------------------ memory
def _children(pid: int) -> list[int]:
    out = []
    for task in pathlib.Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            continue
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants (the Python
    driver, the JVM it launched and any Python workers)."""
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        total += _rss_bytes(p)
        stack += _children(p)
    return total


# the JVM's JIT compiler threads; start_spark keeps their number fixed
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat: str) -> int:
    try:
        with open(stat) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])
    except OSError:
        return 0


def tree_cpu() -> tuple[float, float]:
    """CPU seconds (user + system) used so far by this process and its
    live descendants (the Python driver, the JVM and Spark's Python
    workers), as (work, jit): ``jit`` is the JVM's JIT compiler threads,
    ``work`` everything else.  Neither counts time the hypervisor gave
    this machine's CPUs to other guests."""
    total = jit = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        total += _cpu_ticks(f"/proc/{pid}/stat")
        for task in pathlib.Path(f"/proc/{pid}/task").glob("*"):
            try:
                stack += [int(c) for c in (task / "children").read_text().split()]
                if (task / "comm").read_text().strip() in JIT_THREADS:
                    jit += _cpu_ticks(str(task / "stat"))
            except OSError:
                continue
    hz = os.sysconf("SC_CLK_TCK")
    return (total - jit) / hz, jit / hz


# ------------------------------------------------------- host speed
REF_LOOP_N = 300_000


def ref_loop_cpu_s() -> float:
    """Thread CPU time of a fixed pure-Python loop: 16-25 ms on a 4-vCPU
    host, as fast as other guests on the same physical cores let it
    run.  Waiting for a CPU does not count, just as in ``tree_cpu``."""
    t = time.thread_time()
    sum(i * i for i in range(REF_LOOP_N))
    return time.thread_time() - t


class HostSpeed:
    """Reference-loop timings taken between measured steps; ``ref_s``,
    their median, records how fast the host's CPUs ran during the run."""

    def __init__(self) -> None:
        self.samples: list[float] = []

    def sample(self, k: int = 5) -> None:
        self.samples += [ref_loop_cpu_s() for _ in range(k)]

    @property
    def ref_s(self) -> float:
        return median(self.samples)


class RssSampler:
    """Samples the process tree's resident set on a thread; ``peak_mb``
    is the largest sample.  Use as a context manager."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ------------------------------------------------------------- spark
def start_spark(work: pathlib.Path, *, trace: bool):
    """The engine's own ``get_spark`` sized from the host.  With
    ``trace`` the Spark event log is written to ``work/eventlog``."""
    from investigraph_etl_spark.session import get_spark

    n = host_cpus()
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": driver_heap(),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed set of JIT compiler threads, so their CPU time can be
        # told apart from the engine's (tree_cpu)
        "spark.driver.defaultJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ stats
def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1] of ``values``."""
    s = sorted(values)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Outcome:
    """Attempted / failed operation counts; any oracle mismatch or
    exception is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(what)

    def check(self, what: str, cond: bool) -> None:
        if cond:
            self.ok()
        else:
            self.fail(what)


def emit(outcome: Outcome, metrics: dict[str, tuple[float, str]], report: list[str]) -> None:
    """Human-readable report lines, then the one-line JSON result."""
    for line in report:
        print(line)
    for err in outcome.errors[:20]:
        print(f"FAILED: {err}")
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
