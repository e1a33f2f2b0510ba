"""Session life cycle, isolation, spans and memory sampling for one run.

Everything a run writes (parquet inputs, pyramids, Spark scratch, the
event log, temp files) lives under the run's work directory inside the
checkout, which is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate_env(work: str) -> None:
    """Point every scratch location of this process and its children
    into ``work`` before Spark (or tempfile) is first used."""
    import tempfile

    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # get_spark reads these: keep spark.local.dir off /dev/shm and size
    # the single local JVM for a shared host
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Python UDF workers import the package from the checkout
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_session(work: str, cores: int, event_log: bool):
    from geotrellis_server_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": "file:" + os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            # zstd is the default codec and zstandard is not importable
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file:" + os.path.join(work, "events"),
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_path(spark, work: str) -> str:
    return os.path.join(work, "events", spark.sparkContext.applicationId)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
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
    """Peak summed resident set of this process and all descendants (the
    local JVM and its Python workers), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.5):
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in process_tree()))

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Times named spans. When ``traced``, each call also runs under its
    own Spark job group ``<span>#<n>`` so the event log can attribute
    stage metrics to it; untraced calls touch no Spark state."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.times: dict[str, list[float]] = defaultdict(list)
        self.group: str | None = None  # job group of the latest span
        self._n = 0

    @contextmanager
    def span(self, name: str):
        if self.traced:
            self._n += 1
            self.group = f"{name}#{self._n}"
            self.sc.setJobGroup(self.group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[name].append(time.perf_counter() - t0)
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def timed(self, name: str, fn):
        with self.span(name):
            return fn()


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait until it
    and every process under it (Python workers) have exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    tree = [p for p in process_tree() if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except (Py4JError, OSError):  # already gone; the JVM is reaped below
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on stdin EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def new_work_dir(workload: str) -> str:
    path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def remove_work_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass
