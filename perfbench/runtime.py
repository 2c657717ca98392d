"""Process-level plumbing shared by the workloads: the scratch directory
inside the checkout, the peak-RSS sampler over the process tree, the
Spark session and the Spark counters read from outside the program.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from urllib.parse import urlparse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    """Spark's local[N]: one task slot (see `pin_to_one_cpu`)."""
    return 1


def pin_to_one_cpu() -> None:
    """Bind this process, and so every process it starts from now on
    (Spark's JVM, its Python workers), to one CPU: the highest-numbered
    one it may use. On a small VM of a shared host, a run spread over
    several CPUs has its threads descheduled by the hypervisor (CPU
    steal) whenever the host is busy, and Spark's many cross-thread
    hand-offs turn each such stall into a much longer wait; on one CPU
    it queues behind its own work only."""
    os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


class WorkDir:
    """A per-run directory under ``.perfbench_work`` (removed on exit)."""

    def __init__(self, tag: str):
        self.path = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total


def record_new_files(root: str, seen: dict) -> None:
    """Add every file under `root` not yet in `seen` (path -> size)."""
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if p not in seen:
                with contextlib.suppress(FileNotFoundError):
                    seen[p] = os.stat(p).st_size


def spans_path(name: str) -> str:
    """Where a traced run leaves its spans (kept after the run)."""
    d = os.path.join(WORK_ROOT, "spans")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


def _descendants(root_pid: int) -> list[int]:
    """`root_pid` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces: ppid is after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss(root_pid: int) -> int:
    """Summed proportional resident bytes (PSS) of `root_pid` and all
    its descendants: pages shared between processes, such as those of
    forked Python workers, count once across the tree."""
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process tree (Spark's JVM, this
    Python process, Spark's Python workers) as summed PSS, sampled from
    /proc every `interval` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_pss(me))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_pss(os.getpid()))
        return self.peak / 1e6


def start_spark(work: WorkDir, n_cores: int):
    """local[n_cores] session with every scratch path inside `work` and
    every socket on 127.0.0.1."""
    pin_to_one_cpu()
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # the environment variable wins over spark.local.dir: set it, so an
    # inherited value cannot send shuffle files out of the checkout
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={work.sub('spark-warehouse')}",
        "--conf spark.driver.extraJavaOptions="
        f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Dderby.system.home={work.sub('derby')}"
        # a run's JVM lives about a minute and a half, too short for the
        # C2 compiler to settle: with it the read paths keep speeding up
        # through the timed region, at a pace set by how much CPU its
        # compiler threads get. C1 alone settles within a few
        # operations; serial GC needs no threads of its own. The heap
        # starts at its full size (SPARK_DRIVER_MEMORY), so its peak
        # resident size does not hinge on when the JVM decided to grow it.
        " -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms2g'",
        "--conf spark.driver.host=127.0.0.1",
        "--conf spark.driver.bindAddress=127.0.0.1",
        "--conf spark.ui.showConsoleProgress=false",
        # keep every job and stage of a run for the counters
        "--conf spark.ui.retainedJobs=20000",
        "--conf spark.ui.retainedStages=20000",
        "pyspark-shell",
    ])
    import tempfile
    tempfile.tempdir = tmp

    from columnstore_spark.session import get_spark
    spark = get_spark(app="perfbench", master=f"local[{n_cores}]",
                      shuffle_partitions=n_cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class SparkCounters:
    """Spark counters read from outside the program: jobs per call from
    a job group and the status tracker, and task, executor-time and
    shuffle totals of those jobs' stages from the local UI's REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = urlparse(self.sc.uiWebUrl).port
        self._url = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{self.sc.applicationId}/stages")
        self._group = 0

    def new_group(self) -> str:
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def jobs(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stage_totals(self, gids) -> dict:
        """Tasks, executor run time and shuffle bytes written by every
        stage of the jobs in `gids`, once the UI has recorded them all
        (polled for at most ~5 s)."""
        tracker = self.sc.statusTracker()
        stages = set()
        for gid in gids:
            for job in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(info.stageIds)
        for _ in range(25):
            with urllib.request.urlopen(self._url, timeout=10) as r:
                rows = [st for st in json.load(r) if st["stageId"] in stages]
            if all(st["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                   for st in rows):
                break
            time.sleep(0.2)
        return {
            "tasks": sum(st["numCompleteTasks"] for st in rows),
            "run_ms": sum(st["executorRunTime"] for st in rows),
            "shuffle_write": sum(st["shuffleWriteBytes"] for st in rows),
        }


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and the Python
    workers it started have exited."""
    from pyspark import SparkContext
    others = [p for p in _descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while others and time.monotonic() < deadline:
        others = [p for p in others if os.path.exists(f"/proc/{p}")
                  and not _is_zombie(p)]
        time.sleep(0.1)
    for p in others:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
