"""Spark-side instruments read from outside the engine.

* ``start_session``: the sized, isolated local session the benchmark uses.
* ``StoreWindow``: Spark's own accounting (the AppStatusStore) diffed
  around one call — jobs, stages, tasks, executor time, GC, shuffle,
  spill, I/O — with each job attributed to the engine frame that
  launched it.
* ``CallSites``: tags every Spark job with that engine frame by setting
  the ``callSite.short`` local property before each JVM call.
* ``RssSampler``: peak summed RSS of this process tree.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import threading
import time

PKG_DIR = None  # set by start_session: the engine package directory

SESSION_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # keep every job/stage/task of a run, so no reading is evicted
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def start_session(cores: int, driver_mem: str, run_dir: str):
    """Local[cores] session with driver memory below physical RAM and all
    scratch space (spark.local.dir, java.io.tmpdir, worker TMPDIR, SQL
    warehouse) inside ``run_dir``."""
    global PKG_DIR
    from ragflow_core16_spark import session as S
    PKG_DIR = os.path.dirname(os.path.abspath(S.__file__))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVMs' hsperfdata files would go to /tmp whatever the tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"),
                    "-XX:-UsePerfData") if p)
    conf = {**SESSION_CONF,
            # one shuffle partition per core: these inputs are megabytes
            "spark.sql.shuffle.partitions": str(cores),
            "spark.driver.memory": driver_mem,
            "spark.local.dir": local,
            # a fixed, pre-touched heap: the JVM's resident size no longer
            # depends on when G1 chooses to grow, so peak RSS moves only
            # with what the run allocates outside the heap and in Python
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.executorEnv.TMPDIR": tmp}
    spark = S.get_spark(f"local[{cores}]", app_name="perfbench",
                        extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until every process they
    started (Python daemons and workers, which the JVM's exit orphans)
    has ended."""
    import subprocess
    from pyspark import SparkContext
    started = _descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    if _wait_gone(started, 20):
        return
    for pid in _live(started):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    _wait_gone(started, 10)


def _live(pids) -> list[int]:
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except OSError:
            pass
    return out


def _wait_gone(pids, timeout: float) -> bool:
    deadline = time.time() + timeout
    while _live(pids):
        if time.time() > deadline:
            return False
        time.sleep(0.1)
    return True


# ------------------------------------------------------------ CPU steal
def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def delivered_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time the host's processes asked for that the
    hypervisor delivered between two ``cpu_ticks`` readings (1.0 on bare
    metal).  Steal accrues only while a virtual CPU is runnable, so wall
    time x this share estimates the wall time without co-tenant steal."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


# ----------------------------------------------------------------- RSS
def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int, page: int) -> int:
    """Resident bytes of one process.  Python workers are forked from one
    daemon and share its pages, so they count their proportional share
    (Pss); the JVM shares nothing and its Pss walk costs ~50 ms, so it
    counts plain RSS."""
    with open(f"/proc/{pid}/comm") as f:
        java = f.read().strip() == "java"
    if not java:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * page


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            total += _resident_bytes(pid, page)
        except (OSError, ValueError, IndexError):
            pass  # the process ended between listing and reading
    return total


class RssSampler:
    """Samples the tree's summed resident size every ``interval`` s while
    active."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self.peak = tree_rss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes())

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


# ----------------------------------------------------- job call sites
class CallSites:
    """While active, every JVM call made from engine code first sets the
    ``callSite.short`` local property to the engine frames on the stack
    (innermost first, ``path.py:line`` relative to the package), so each
    Spark job names the engine line that launched it.  Implemented as a
    wrapper around py4j's ``JavaMember.__call__`` in this process only."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self._busy = False
        self._last = None
        self._orig = None

    @staticmethod
    def _site(frame) -> str:
        out = []
        while frame is not None and len(out) < 12:
            fn = frame.f_code.co_filename
            if fn.startswith(PKG_DIR):
                out.append(f"{os.path.relpath(fn, PKG_DIR)}:{frame.f_lineno}")
            frame = frame.f_back
        return " < ".join(out) or "bench"

    def _set(self, site) -> None:
        self._busy = True
        try:
            self._jsc.setLocalProperty("callSite.short", site)
        finally:
            self._busy = False
        self._last = site

    def __enter__(self):
        import py4j.java_gateway as jg
        self._orig = orig = jg.JavaMember.__call__
        tagger = self

        def call(member, *args):
            if not tagger._busy:
                site = tagger._site(sys._getframe(1))
                if site != tagger._last:
                    tagger._set(site)
            return orig(member, *args)

        jg.JavaMember.__call__ = call
        return self

    def __exit__(self, *exc):
        import py4j.java_gateway as jg
        jg.JavaMember.__call__ = self._orig
        self._set(None)
        self._last = None


_SITE_RE = re.compile(r"([\w./-]+\.py):(\d+)")


def engine_frames(job_name: str) -> list[tuple[str, int]]:
    """(package-relative file, line) frames named in a job's call site."""
    out = []
    for path, line in _SITE_RE.findall(job_name):
        if PKG_DIR and path.startswith(PKG_DIR):
            path = os.path.relpath(path, PKG_DIR)
        out.append((path, int(line)))
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


_PY_NODE = re.compile(r"Pandas|Python|Arrow", re.I)


class StoreWindow:
    """Status-store readings for the jobs/stages started since ``mark``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.job0 = self.stage0 = 0

    def _max_ids(self):
        jobs = self.store.jobsList(None)
        stages = self._stages()
        return (max((jobs.apply(i).jobId() for i in range(jobs.size())),
                    default=-1),
                max((stages.apply(i).stageId()
                     for i in range(stages.size())), default=-1))

    def _stages(self):
        jvm = self.sc._jvm
        return self.store.stageList(jvm.java.util.ArrayList(), False, False,
                                    self.sc._gateway.new_array(jvm.double, 0),
                                    jvm.java.util.ArrayList())

    def mark(self):
        j, s = self._max_ids()
        self.job0, self.stage0 = j + 1, s + 1

    def read(self) -> dict:
        """Totals over the window plus the job list (name, start, end,
        stage ids) and per-stage rows for span building."""
        jobs = []
        for j in _seq(self.store.jobsList(None)):
            if j.jobId() < self.job0:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else None
            end = done.get().getTime() / 1000 if done.isDefined() else start
            jobs.append({"id": j.jobId(), "name": j.name(), "start": start,
                         "end": end, "stages": list(_seq(j.stageIds())),
                         "failed_tasks": j.numFailedTasks()})
        tot = dict.fromkeys(
            ("run_ms", "cpu_ns", "gc_ms", "serde_ms", "py_run_ms",
             "shuffle_read", "shuffle_write", "spill", "input", "output",
             "tasks", "failed_tasks"), 0)
        stages = []
        for s in _seq(self._stages()):
            if s.stageId() < self.stage0:
                continue
            run = s.executorRunTime()
            graph = self.store.operationGraphForStage(s.stageId())
            python = _has_python(graph.rootCluster())
            tot["run_ms"] += run
            tot["cpu_ns"] += s.executorCpuTime()
            tot["gc_ms"] += s.jvmGcTime()
            tot["serde_ms"] += (s.executorDeserializeTime()
                                + s.resultSerializationTime())
            tot["py_run_ms"] += run if python else 0
            tot["shuffle_read"] += s.shuffleReadBytes()
            tot["shuffle_write"] += s.shuffleWriteBytes()
            tot["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["input"] += s.inputBytes()
            tot["output"] += s.outputBytes()
            tot["tasks"] += s.numTasks()
            tot["failed_tasks"] += s.numFailedTasks()
            sub, done = s.submissionTime(), s.completionTime()
            stages.append({"id": s.stageId(), "attempt": s.attemptId(),
                           "start": (sub.get().getTime() / 1000
                                     if sub.isDefined() else None),
                           "end": (done.get().getTime() / 1000
                                   if done.isDefined() else None),
                           "run_ms": run, "python": python,
                           "tasks": s.numTasks()})
        tot["task_max_over_median"] = self._skew(stages)
        return {"totals": tot, "jobs": jobs, "stages": stages}

    def _skew(self, stages) -> float:
        """max / median task duration in the stage with the most run time."""
        if not stages:
            return 0.0
        top = max(stages, key=lambda s: s["run_ms"])
        tasks = _seq(self.store.taskList(top["id"], top["attempt"],
                                         top["tasks"]))
        durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0


def _has_python(cluster) -> bool:
    if _PY_NODE.search(cluster.name() or ""):
        return True
    return any(_has_python(c) for c in _seq(cluster.childClusters()))
