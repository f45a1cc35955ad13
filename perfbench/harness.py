"""What every workload shares: the run context, the Spark session, the run
metadata and the statistics.

All temporary state lives under ``.perfbench/`` in the directory the
benchmark runs from: temp files, Spark's local dirs, connector logs and
caches go to ``.perfbench/work/<run id>`` (removed at the end); the
result and the traced run's spans go to ``.perfbench/results/``.
"""

from __future__ import annotations

import contextlib
import os
import platform
import signal
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any

# Cores the session uses: a fixed small pin keeps runs comparable and
# the footprint small on shared machines.
CPUS = 4
DRIVER_MEM = "3g"


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in (0, 100]."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


@dataclass
class Result:
    """One run's outcome. ``e2e`` and ``layers`` hold the metrics the
    benchmark declares; ``summary`` holds the named figures printed for
    people (with units), which include ``error_rate``; ``samples`` keeps
    the raw timings behind the medians for the result file."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    summary: dict[str, tuple[float, str]] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


class Context:
    """One benchmark run: arguments, directories, clock and session."""

    def __init__(self, *, workload: str, seed: int, seconds: int, trace: bool,
                 t_process: float, root: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_process = t_process
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.root = root
        self.work = os.path.join(root, ".perfbench", "work", self.run_id)
        self.results = os.path.join(root, ".perfbench", "results")
        self.spark = None
        self.session_start_s = 0.0
        self.load_start = os.getloadavg()
        self.marks: dict[str, float] = {}

    def mark(self, name: str) -> None:
        """Record seconds since process start at a set-up milestone."""
        self.marks[name] = round(time.monotonic() - self.t_process, 3)

    def prepare_env(self) -> None:
        """Point every temp and log location the run touches at the
        work dir, before Spark or the package is imported."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(self.results, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["AIRBYTE_LOGGING_ROOT"] = os.path.join(self.work, "logs")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def start_spark(self):
        from pyairbyte_spark import get_spark

        t = time.monotonic()
        tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.executor.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        # The first job pays the JIT and scheduler warm-up once per run.
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.session_start_s = time.monotonic() - t
        self.mark("session_ready")
        return self.spark

    def deadline(self) -> float:
        return time.monotonic() + self.seconds

    def metadata(self) -> dict[str, Any]:
        sc = self.spark.sparkContext
        meta: dict[str, Any] = {
            "run_id": self.run_id,
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "master": sc.master,
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "defaultParallelism": sc.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "cpu_count": os.cpu_count(),
            "loadavg_start": self.load_start,
            "loadavg_end": os.getloadavg(),
            "python": platform.python_version(),
            "spark": self.spark.version,
            "jdk": sc._jvm.java.lang.System.getProperty("java.version"),
            "git_commit": git_commit(self.root),
            "setup_marks": self.marks,
        }
        return meta

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and every process it started
        (the Python workers) have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in children:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)
        self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def git_commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                    # The command name may hold spaces; the ppid follows its ')'.
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
