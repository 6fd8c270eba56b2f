"""What the three workloads share: the session, the run context that
counts attempted and failed operations, the host stamp, and the
statistics the result line reports."""

from __future__ import annotations

import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
# Every median a run reports covers at least this many operations after
# the first, cold one; a traced run makes as many traced as untraced
# ones, so twice as many. A run is mostly the session
# start and the cold first operation, about 25 s on a 4-core host; two
# later operations keep it near 33 s.
MIN_SAMPLES = 2
# JVM log lines look like "26/10/17 03:05:32 ERROR DAGScheduler: ..."
_ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ", re.M)


def session_conf(work: str) -> dict[str, str]:
    """Keep Spark's scratch files inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


@dataclass
class Ctx:
    """One benchmark run: seed, time budget, work directory, the live
    session and tracer, and the count of operations and failures."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    spark: object = None
    tracer: Tracer = None  # type: ignore[assignment]
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    get_spark_s: float = 0.0
    window_start: float = 0.0

    def new_session(self):
        """Start the run's session through the engine's own factory, as a
        spark-submit job would."""
        from etl_seattle_call_data_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{CPUS}]",
            # one shuffle partition per core, as SPARK_GRAFT_CPUS=4 sets
            shuffle_partitions=CPUS,
            extra_conf=session_conf(self.work),
        )
        self.get_spark_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.trace)
        return self.spark

    def keep_going(self, done: int) -> bool:
        """Whether to start another operation, ``done`` having finished.
        The first operation is the cold one (``first_s``); the window of
        ``seconds`` for the later ones opens when it ends, and stays open
        until ``min_ops`` operations are done."""
        if done == 1:
            self.window_start = time.perf_counter()
        if done < 1:
            return True
        return time.perf_counter() < self.window_start + self.seconds or done < min_ops(self.trace)

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a False ``ok`` is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"# FAILED: {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn, *args):
        """Run ``fn``; an exception counts as a failed operation."""
        try:
            return fn(*args)
        except Exception as exc:  # a failed operation must not end the run
            self.check(False, f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def min_ops(trace: bool) -> int:
    """Operations a run makes at least: the first, cold one and
    ``MIN_SAMPLES`` later ones, or, in a traced run, ``MIN_SAMPLES``
    traced and ``MIN_SAMPLES`` untraced later ones."""
    return 1 + MIN_SAMPLES * (2 if trace else 1)


def traced_op(trace: bool, index: int) -> bool:
    """In a traced run, operations 1, 4, 5, 8, 9, ... are traced and
    2, 3, 6, 7, ... are not: each traced/untraced/untraced/traced group
    cancels the JVM's steady speed-up between operations out of
    ``trace.overhead_frac``. Operation 0, the cold one, is never traced,
    so per-layer figures are steady ones."""
    return trace and index > 0 and index % 4 in (0, 1)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0-100)."""
    if not values:
        return float("nan")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1] if q < 100 else max(values)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)


def error_lines(log_path: str) -> int:
    with open(log_path, errors="replace") as f:
        return len(_ERROR_LINE.findall(f.read()))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``:
    the share of steal over a run shows how contended the host was."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stamp(spark) -> dict[str, object]:
    """Host and software the numbers were measured on; numbers compare
    only between runs with the same stamp."""
    sha = None
    if os.path.isdir(os.path.join(REPO, ".git")):  # the checkout may not be a repository
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "host_cpus": os.cpu_count(),
        "spark_cores": CPUS,
        "machine": platform.machine(),
        "git_sha": sha,
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
