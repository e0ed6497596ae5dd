"""What the benchmark reads back from Spark and from /proc.

- :func:`plan_nodes` walks a DataFrame's executed plan, descending the
  AQE query stages, so the SQL metrics of every operator that ran can be
  read (rows out, broadcast size, Python bytes sent, shuffle bytes).
- :class:`JobGroup` tags the Spark jobs of one timed call, so the status
  tracker and status store can count them and sum their stage I/O.
- :class:`TreeMemory` polls ``/proc`` for the peak resident set of this
  process and all its descendants (the driver JVM and the Python workers).

Everything here reads records Spark keeps anyway; nothing in the engine
is changed or patched.
"""

from __future__ import annotations

import itertools
import os
import threading

_STAGE_NODES = ("ShuffleQueryStage", "BroadcastQueryStage", "ResultQueryStage")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_nodes(df) -> list:
    """Every physical operator of ``df``'s executed plan, AQE stages descended."""
    stack, out = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if name.startswith(_STAGE_NODES):
            stack.append(node.plan())
            continue
        out.append(node)
        stack.extend(_seq(node.children()))
    return out


def metric(node, key: str) -> int:
    """One SQL metric of a plan node (0 when the node has no such metric)."""
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def nodes_named(nodes: list, prefix: str) -> list:
    return [n for n in nodes if n.nodeName().startswith(prefix)]


def first_real_child(node):
    """A node's first child, looking through the codegen wrappers."""
    child = node.children().apply(0)
    while child.nodeName().startswith(("InputAdapter", "WholeStageCodegen")):
        child = child.children().apply(0)
    return child


def output_names(node) -> list[str]:
    return [a.name() for a in _seq(node.output())]


class JobGroup:
    """Tag the Spark jobs started inside a ``with`` block and read their records."""

    _ids = itertools.count()

    def __init__(self, spark, label: str):
        self.sc = spark.sparkContext
        self.gid = f"perfbench-{label}-{next(self._ids)}"
        self.job_ids: list[int] = []

    def __enter__(self):
        self.sc.setJobGroup(self.gid, self.gid)
        return self

    def __exit__(self, *exc):
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        self.job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(self.gid))
        return False

    def stages(self) -> list:
        """The last attempt's StageData of every stage the jobs ran."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = []
        for jid in self.job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    out.append(store.lastStageAttempt(sid))
                except Exception:  # noqa: BLE001 - skipped stages have no attempt record
                    continue
        return out

    def stage_sum(self, field: str) -> int:
        return sum(int(getattr(s, field)()) for s in self.stages())


def gc_seconds(spark) -> float:
    """Collection time of the driver JVM's collectors so far. In local mode
    the executor runs in that JVM; its status-store GC total reads 0 there."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


def failed_tasks(spark) -> int:
    """Failed tasks over all executors so far, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return sum(int(e.failedTasks()) for e in _seq(store.executorList(True)))


def cpu_ticks() -> list[int]:
    """The machine's CPU time so far by state (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def children(pid: int) -> list[int]:
    """Direct child processes of ``pid``, from every thread's ``children`` list."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
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


class TreeMemory:
    """Peak RSS of this process tree: the largest sum, over one poll, of the
    resident sets of this process and of those descendants that were also
    there at the poll before. The JVM holds on to the heap it has grown,
    so polling misses little of the peak; a short-lived fork of the JVM
    (Hadoop runs ``chmod`` that way when its native library is missing),
    whose RSS repeats its parent's, is not counted on top of it. VmRSS is
    read from ``status``, which costs the JVM nothing; ``smaps_rollup``
    would walk its page tables under its mmap lock on every poll."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_by_pid: dict[int, int] = {}  # each process's own largest poll, for the detail file
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total, stack, seen = 0, [me], set()
        while stack:
            pid = stack.pop()
            seen.add(pid)
            if pid == me or pid in self._seen:
                kb = _rss_kb(pid)
                total += kb
                self.peak_by_pid[pid] = max(kb, self.peak_by_pid.get(pid, 0))
            stack.extend(children(pid))
        self._seen = seen
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "TreeMemory":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
