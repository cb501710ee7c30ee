"""Run environment, Spark session lifecycle, memory sampling and the
statistics every workload reports.

The environment is pinned through the engine's existing knobs
(``tits_spark.session``): ``$SPARK_GRAFT_CPUS``,
``$SPARK_GRAFT_DRIVER_MEM``, ``$SPARK_GRAFT_LOCAL_DIR`` and
``$SPARK_GRAFT_EXTRA_CONF``. Nothing here edits the engine.
"""

from __future__ import annotations

import json
import os
import pathlib
import statistics
import subprocess
import sys
import threading
import time


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(root: pathlib.Path, work: pathlib.Path) -> dict:
    """Set the engine's knobs for this host and make ``tits_spark``
    importable by the driver and by every Python worker, whatever the
    launch directory. Returns the pinned values for the run record."""
    cores = len(os.sched_getaffinity(0))
    mem_gib = _mem_total_bytes() / 2**30
    # local mode: the driver JVM is every executor; a sixth of the host
    # leaves room for the Python workers and for other tenants
    driver_gib = max(1, min(4, int(mem_gib // 6)))
    local_dir = work / "spark-local"
    local_dir.mkdir(parents=True, exist_ok=True)
    tmp_dir = work / "tmp"
    tmp_dir.mkdir(parents=True, exist_ok=True)
    paths = [str(root)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ.update({
        # collected timestamps are naive local times: make local UTC,
        # like the engine's session time zone
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gib}g",
        # spill on disk, not on the RAM-backed /dev/shm default
        "SPARK_GRAFT_LOCAL_DIR": str(local_dir),
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(paths)),
        # temporary files of Python, the workers and the JVM stay in
        # the run's own directory
        "TMPDIR": str(tmp_dir),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    time.tzset()
    if str(root) not in sys.path:
        sys.path.insert(0, str(root))
    return {
        "cores": cores,
        "host_mem_gib": round(mem_gib, 1),
        "driver_mem": f"{driver_gib}g",
        "local_dir": str(local_dir),
    }


def spec(root: pathlib.Path) -> dict:
    """BENCHMARK.json: the metrics' names, units and directions."""
    return json.loads((root / "BENCHMARK.json").read_text())


class Engine:
    """One Spark driver JVM for the whole run; sessions on it can be
    stopped and started again (set-up is repeated that way)."""

    def __init__(self, work: pathlib.Path, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None

    def start(self, event_log_dir: pathlib.Path | None = None):
        conf = [
            "spark.ui.enabled=false",
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={self.work / 'warehouse'}",
            "spark.sql.streaming.numRecentProgressUpdates=1000",
            # no perf-data file and no temporary files outside the run
            "spark.driver.extraJavaOptions=-XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        ]
        if event_log_dir is not None:
            event_log_dir.mkdir(parents=True, exist_ok=True)
            conf += [
                # whole scan locations in the plan, to tell raw scans apart
                "spark.sql.maxMetadataStringLength=1000",
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir={event_log_dir.resolve().as_uri()}",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ]
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
        from tits_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cores=self.cores, shuffle_partitions=self.cores
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def collect(self) -> None:
        """A full GC in the driver JVM."""
        self.spark.sparkContext._jvm.System.gc()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it."""
        self.stop()
        from pyspark import SparkContext

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
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _processes() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, resident bytes)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        rss = int(fields.get("VmRSS", "0 kB").split()[0]) * 1024
        procs[int(entry)] = (int(fields["PPid"]), fields["Name"].strip(), rss)
    return procs


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of the driver JVM (the ``java`` child of
    ``root_pid``) plus the Python workers below it. Other processes the
    JVM spawns are left out: a child it has forked but not yet exec'd
    reports the JVM's own resident size and would count it twice."""
    procs = _processes()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0
    for jvm in kids.get(root_pid, []):
        if procs[jvm][1] != "java":
            continue
        total += procs[jvm][2]
        todo = list(kids.get(jvm, []))
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            if procs[pid][1].startswith("python"):
                total += procs[pid][2]
    return total


class RssSampler:
    """Samples the descendants' summed RSS on a thread; ``peak`` is the
    highest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._halt.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


def cpu_times() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: on a shared
    host the timings rise with it."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    """90th percentile, interpolated between samples (near the maximum
    for a handful of samples)."""
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it,
    as (value, percentile, sample count). Nearest rank: the k-th
    smallest of n has n - k samples beyond it, so k = n - 10. With ten
    samples or fewer no such percentile exists and the maximum
    (percentile 100) is reported; the sample count says so."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - 10 if n > 10 else n
    return float(s[k - 1]), 100.0 * k / n, n


class Loop:
    """Closed loop: the next operation starts only after the previous
    one returns. Runs until the operations have been busy for
    ``seconds``, and at least three times, so the median is an
    operation's time and one slow operation does not set it; checks
    between operations do not count."""

    MIN_OPS = 3

    def __init__(self, seconds: float, min_ops: int = MIN_OPS):
        self.seconds = seconds
        self.min_ops = min_ops
        self.busy = 0.0

    def more(self, done: int) -> bool:
        return done < self.min_ops or self.busy < self.seconds
