"""Run-level pieces shared by every workload: the work directory inside
the checkout, the Spark session, the fixed CPU probe, the process-tree
RSS sampler and the ledger that counts operations and failed checks.

Nothing here starts a thread or a process at import time.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# The driver heap is pinned so peak RSS compares across hosts and commits.
DRIVER_MEM = "2g"


def benchmark_metrics(key: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def prepare_environment() -> str:
    """Point every temp path (Python, JVM, Spark local dirs, Python
    workers) at a fresh per-process directory inside the checkout and
    make the checkout importable by Spark's Python workers. Must run
    before pyspark launches its JVM. Returns the work directory."""
    import tempfile

    work = os.path.join(WORK_ROOT, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["BLINK_SPARK_DRIVER_MEM"] = DRIVER_MEM
    return work


def start_spark(work: str, traced: bool):
    """local[nproc] through the program's own session factory. The
    status REST API (the UI server) is on only for traced runs."""
    from blink_spark.session import get_spark

    # Spark generates enough code to fill a small code cache, after
    # which the JVM stops compiling altogether
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:ReservedCodeCacheSize=256m"
    )
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        })
    spark = get_spark("perfbench", cores=os.cpu_count() or 1, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, work: str) -> None:
    """Stop the session, then the JVM gateway process, and wait for
    every descendant process to end before removing the work dir."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    shutil.rmtree(work, ignore_errors=True)
    if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
        os.rmdir(WORK_ROOT)


# ---------------------------------------------------------------- probes

_CALIB_N = 1_500_000


def calib_probe() -> float:
    """Seconds for a fixed pure-Python CPU loop (~100 ms on a 2020s
    x86 core). Reported next to the timings so a drifting host window
    is visible; it never rescales a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(_CALIB_N):
        acc += i * i
    if acc < 0:  # keeps the loop from being dead code
        raise RuntimeError("unreachable")
    return time.perf_counter() - t0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    gateway JVM and Spark's Python workers), sampled every 200 ms."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- ledger


class Ledger:
    """Counts operations attempted and failed. An operation fails when
    it raises or when any check on its output fails; each failure is
    kept with the operation's name and the checks' messages."""

    def __init__(self, expect: "Expect"):
        self.expect = expect
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, name: str, fn, verify=None):
        """Time ``fn()``, then verify its output outside the timed
        region. Returns (output or None, wall s)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:
            wall = time.perf_counter() - t0
            self._fail(name, f"raised {type(exc).__name__}: {exc}")
            traceback.print_exc()
            return None, wall
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        if verify is not None:
            try:
                verify(out)
            except Exception as exc:
                self.expect.problems.append(f"check raised {type(exc).__name__}: {exc}")
                traceback.print_exc()
        print(
            f"perfbench: {name} {wall:.3f}s (checks {time.perf_counter() - t1:.3f}s)",
            file=sys.stderr,
        )
        if self.expect.problems:
            self._fail(name, "; ".join(self.expect.problems))
            self.expect.problems.clear()
        return out, wall

    def _fail(self, name: str, msg: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {msg}")
        print(f"perfbench: FAILED {name}: {msg}", file=sys.stderr)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class Expect:
    """Expected answers. ``same`` pins a value the first time it is
    seen (the warm-up pass) and flags any later difference;
    ``at_least`` and ``equal`` compare with a fixed value. Each failed
    check adds a message naming it to ``problems``. A test may pre-load
    ``values`` with wrong answers to prove every check trips."""

    def __init__(self):
        self.values: dict[str, object] = {}
        self.problems: list[str] = []

    def same(self, name: str, value) -> None:
        if name not in self.values:
            self.values[name] = value
        elif self.values[name] != value:
            self.problems.append(f"check {name}: got {value!r}, expected {self.values[name]!r}")

    def at_least(self, name: str, value: float, floor: float) -> None:
        floor = self.values.get(name, floor)
        if not value >= floor:
            self.problems.append(f"check {name}: got {value!r}, expected >= {floor!r}")

    def equal(self, name: str, value, expected) -> None:
        expected = self.values.get(name, expected)
        if value != expected:
            self.problems.append(f"check {name}: got {value!r}, expected {expected!r}")


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0
