"""Session lifetime, process-tree memory and plan inspection.

Everything the benchmark writes (Spark local dirs, JVM and Python temp
files, job outputs) stays under ``WORK_DIR`` inside this directory.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(HERE, ".work")
CACHE_DIR = os.path.join(HERE, ".cache")
OUT_DIR = os.path.join(HERE, ".out")
DRIVER_MEMORY = "1g"


def prepare_environment() -> None:
    """Point the JVM and its Python workers at this checkout, before the
    first session launches the JVM."""
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a fixed, pre-touched heap (build_session asks for up to 8g) keeps
    # the JVM's share of peak RSS constant between runs, so the RSS
    # metric moves with what the workers hold, and bounded on a shared box
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} --driver-java-options "
        f"'-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")


def start_session(nproc: int, splits: int):
    """The engine's standard session (``plans.build_session``) on
    ``local[nproc]``, scanning at least ``splits`` splits per table."""
    from docling_plus_spark.plans import build_session

    spark = build_session(f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    # one split per input file: several tasks per core, so a pass is set
    # by task granularity rather than by one straggling split
    spark.conf.set("spark.sql.files.minPartitionNum", str(splits))
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fresh_dir(name: str) -> str:
    path = os.path.join(WORK_DIR, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- memory --------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    """RSS summed over ``root`` and every descendant process (the JVM and
    its Python workers), read from ``/proc/<pid>/stat``."""
    parent, rss = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rfind(b")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * _PAGE
    total, todo = 0, [root]
    children: dict = {}
    for pid, pp in parent.items():
        children.setdefault(pp, []).append(pid)
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the process tree's RSS every ``interval`` seconds while
    active; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- plans -----------------------------------------------------------------------

_EXCHANGE_RE = re.compile(r"^\W*(?:\*\(\d+\)\s*)?(?:Exchange|BroadcastExchange)\b", re.M)


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _executions(store)]
    return max(ids, default=-1)


def _executions(store):
    seq = store.executionsList()
    return [seq.apply(i) for i in range(seq.size())]


def exchanges_since(spark, after_id: int) -> int:
    """Exchange operators in the final physical plans of every SQL
    execution with an id above ``after_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = 0
    for e in _executions(store):
        if e.executionId() <= after_id:
            continue
        plan = e.physicalPlanDescription()
        # adaptive plans print the final plan first and the initial plan
        # after it; only the final plan ran
        plan = plan.split("== Initial Plan ==", 1)[0]
        tree = plan.split("\n\n", 1)[0]
        n += len(_EXCHANGE_RE.findall(tree))
    return n

