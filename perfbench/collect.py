"""Counters read from outside the program: Spark's status store, process
memory from ``/proc`` and the machine's load average.
"""

from __future__ import annotations

import os
import threading

STAGE_FIELDS = (
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "failed_tasks",
)


class SparkCounters:
    """Per-operation Spark counters.

    ``begin(label)`` puts the calling thread's jobs under job group
    ``label`` and notes the next job id; ``end()`` drains the listener bus
    and sums the stage metrics of every job started since ``begin`` —
    jobs that streaming queries run on their own threads included — from
    the status store. Reading right after each operation keeps the
    snapshot well inside ``spark.ui.retainedStages`` (1000 by default).
    """

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._first_job = 0

    def next_job_id(self) -> int:
        # an AtomicInteger, which py4j hands over as a Python int
        return int(self._jsc.dagScheduler().nextJobId())

    def begin(self, label: str) -> None:
        self.sc.setJobGroup(label, label)
        self._first_job = self.next_job_id()

    def end(self) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        last = self.next_job_id()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = float(last - self._first_job)
        seen: set[int] = set()
        for job in range(self._first_job, last):
            stage_ids = self._store.job(job).stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["failed_tasks"] += st.numFailedTasks()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _proc(pid: int) -> tuple[bytes, int, int] | None:
    """(command line, address-space pages, resident pages), or None once
    the process has exited."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
        with open(f"/proc/{pid}/statm") as fh:
            size, resident = fh.read().split()[:2]
        return cmd, int(size), int(resident)
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants.

    A child with its parent's command line and address-space size has not
    exec'd or grown since it was forked, and reports its parent's pages as
    its own; it is not counted. The JVM spawns helper processes this way,
    and on a contended host such a child lives long enough to be sampled
    with the JVM's whole resident size."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        me = _proc(pid)
        if me is None:
            continue
        if parent is None or me[:2] != parent[:2]:
            total += me[2] * page
        todo.extend((kid, me) for kid in kids.get(pid, ()))
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    ``root`` and all its descendants: the Python driver, the JVM and the
    Python workers."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the resident memory of this process tree (the driver JVM
    and its Python workers are its descendants) on a background thread;
    ``stop()`` returns the peak in bytes."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.period_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])
