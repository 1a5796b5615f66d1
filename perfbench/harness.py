"""Process-level plumbing for the benchmark: machine fit, the Spark
session launch, peak-RSS sampling from /proc, Spark event-log
parsing and log-noise counting.

Everything here observes the program from outside: the session comes
from the package's own ``functions.session.get_spark``; launch-time
settings (scratch dirs, event log, captured stderr) are passed to the
JVM through ``PYSPARK_SUBMIT_ARGS`` and inherited file descriptors, so
no package file is touched.
"""

from __future__ import annotations

import json
import os
import re
import shlex
import signal
import statistics
import subprocess
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

MB = 1024 * 1024


def machine() -> dict:
    """nproc and RAM of this machine, and the Spark sizing derived from
    them: one task slot per core, a quarter of the available RAM (at
    most 2 GiB, at least 1 GiB) as driver heap."""
    cores = len(os.sched_getaffinity(0))
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    avail = mem.get("MemAvailable", mem["MemTotal"])
    heap_mb = max(1024, min(2048, avail // 4 // MB // 512 * 512))
    return {"nproc": cores, "ram_total_mb": mem["MemTotal"] // MB,
            "ram_available_mb": avail // MB, "spark_cores": cores,
            "driver_memory": f"{heap_mb}m"}


# -- peak RSS -----------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; the ppid is the 2nd field after ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _pss_bytes(pid: int) -> int:
    """Proportional set size: RSS with each shared page split among the
    processes mapping it, so Python workers forked from one daemon are
    not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS (as PSS) of every descendant of this
    process (the driver JVM and its Python workers), sampled every
    ``period`` s while inside ``with sampler:`` blocks; ``peak_largest``
    is the largest single process (the JVM) at that sample."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self.peak_largest = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sizes = [_pss_bytes(p) for p in _descendants(me)]
            self.samples += 1
            if sum(sizes) > self.peak:
                self.peak, self.peak_largest = sum(sizes), max(sizes, default=0)
            self._stop.wait(self.period)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# -- Spark session lifecycle ----------------------------------------------

class SparkRun:
    """Owns the JVM of one benchmark run.

    ``start()`` launches the JVM and the session through the package's
    ``get_spark``; the JVM and the Python workers it forks write
    stdout/stderr into ``log_path``.
    ``close()`` stops the session, ends the JVM and waits for every
    descendant process to exit.
    """

    def __init__(self, run_dir: Path, fit: dict, event_log: bool):
        self.run_dir = run_dir
        self.fit = fit
        self.events_dir = run_dir / "events"
        self.log_path = run_dir / "spark.log"
        tmp = run_dir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        confs = {
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            self.events_dir.mkdir(exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events_dir.as_uri(),
                # Spark 4 defaults to zstd rolling logs
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        # the heap is committed and touched at full size from the start,
        # so the peak RSS does not depend on when G1 decided to grow it and
        # moves with off-heap and Python-worker memory
        args = ["--driver-java-options",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{fit['driver_memory']} -XX:+AlwaysPreTouch"]
        for k, v in confs.items():
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
        # spark-submit first runs a small launcher JVM; keep it off /tmp too
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
        os.environ["TMPDIR"] = str(tmp)
        self.spark = None
        self._log = open(self.log_path, "ab")
        self._saved_fds = None

    def start(self):
        from datasketches_java_spark.functions.session import get_spark
        # the JVM inherits fds 1 and 2 at launch: point both at the log
        # while it starts, keep 2 there so worker tracebacks land too
        self._saved_fds = (os.dup(1), os.dup(2))
        os.dup2(self._log.fileno(), 2)
        os.dup2(self._log.fileno(), 1)
        try:
            self.spark = get_spark("perfbench", cores=self.fit["spark_cores"],
                                   driver_memory=self.fit["driver_memory"])
        finally:
            os.dup2(self._saved_fds[0], 1)
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext
        started = _descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()   # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # nothing the run started may outlive it; orphans of the JVM are
        # re-parented away from us, so track the pids seen before it ended
        deadline = time.time() + 10
        while (left := [p for p in started if _alive(p)]):
            sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            time.sleep(0.2)
        if self._saved_fds is not None:
            os.dup2(self._saved_fds[1], 2)
            for fd in self._saved_fds:
                os.close(fd)
            self._saved_fds = None
        self._log.close()

    def log_counts(self) -> tuple[dict, dict]:
        """ERROR / WARN lines Spark's log4j wrote to the captured log, and
        a few distinct messages of each level as samples."""
        pat = re.compile(rb"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (ERROR|WARN) (.{0,160})")
        counts = {"ERROR": 0, "WARN": 0}
        samples: dict[str, list] = {"ERROR": [], "WARN": []}
        with open(self.log_path, "rb") as f:
            for line in f:
                m = pat.match(line)
                if m:
                    level, msg = m.group(1).decode(), m.group(2).decode("utf-8", "replace")
                    counts[level] += 1
                    if len(samples[level]) < 5 and msg not in samples[level]:
                        samples[level].append(msg)
        return ({"log.error_lines": counts["ERROR"],
                 "log.warn_lines": counts["WARN"]}, samples)

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path, "rb") as f:
            return b"".join(f.readlines()[-n:]).decode("utf-8", "replace")


# -- event log --------------------------------------------------------------

def job_group_stats(events_dir: Path) -> dict[str, dict]:
    """Sum SparkListenerTaskEnd metrics per job group (the layer name the
    benchmark set with ``setJobGroup``).  Parse after the session has
    stopped, when the log is complete."""
    stage_group: dict[tuple, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[str, list] = defaultdict(list)
    for path in sorted(events_dir.iterdir()):
        with open(path, "rb") as f:
            for line in f:
                if line.startswith(b'{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[g] += 1
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault((path.name, s), g)
                elif line.startswith(b'{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    g = stage_group.get((path.name, ev["Stage ID"]), "")
                    tasks[g].append(ev.get("Task Metrics") or {})
    out = {}
    for g in set(jobs) | set(tasks):
        ts = tasks.get(g, [])
        run_ms = [t.get("Executor Run Time", 0) for t in ts]
        sr = [t.get("Shuffle Read Metrics", {}) for t in ts]
        sw = [t.get("Shuffle Write Metrics", {}) for t in ts]
        med = statistics.median(run_ms) if run_ms else 0
        out[g] = {
            "jobs": jobs.get(g, 0),
            "tasks": len(ts),
            "task_s": sum(run_ms) / 1e3,
            "gc_s": sum(t.get("JVM GC Time", 0) for t in ts) / 1e3,
            "shuffle_read_mb": sum(r.get("Remote Bytes Read", 0)
                                   + r.get("Local Bytes Read", 0)
                                   for r in sr) / MB,
            "shuffle_write_mb": sum(w.get("Shuffle Bytes Written", 0)
                                    for w in sw) / MB,
            "spill_mb": sum(t.get("Disk Bytes Spilled", 0) for t in ts) / MB,
            "task_skew": max(run_ms) / med if med else 0.0,
        }
    return out


def spark_runtime(stats: dict[str, dict]) -> dict:
    """Spark runtime totals of the untraced job (job group ``pipeline``)."""
    pipe = stats.get("pipeline", {})
    return {"spark.tasks": pipe.get("tasks", 0),
            "spark.gc_s": pipe.get("gc_s", 0.0),
            "spark.spill_mb": pipe.get("spill_mb", 0.0),
            "spark.shuffle_write_mb": pipe.get("shuffle_write_mb", 0.0)}


class Tracer:
    """Wall-clock spans around calls into one layer, each also tagged as
    a Spark job group so the event log can be split the same way."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] += time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


class Ops:
    """Attempted and failed operations of one run.  An operation is one
    pipeline job or one sketch call; it fails on an exception or on any
    ``expect`` inside its ``attempt`` block that does not hold."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.last_failed = False

    @contextmanager
    def attempt(self, name: str, n_ops: int = 1):
        self.attempted += n_ops
        self.last_failed = False
        try:
            yield
        except Exception:
            self.errors.append(f"{name}: {traceback.format_exc()}")
            self.last_failed = True
        if self.last_failed:
            self.failed += n_ops

    def expect(self, ok: bool, msg: str) -> None:
        if not ok:
            self.errors.append(msg)
            self.last_failed = True
