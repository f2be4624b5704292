"""Outside-in collectors: they read what Spark, the kernel and the file
system already record, and run no code inside the program under test.

* ``SparkStatus`` — stage, job and SQL-node metrics from Spark's own
  status stores (``AppStatusStore`` / ``SQLAppStatusStore``); both work
  with the web UI disabled.
* ``WorkerSampler`` — a ``/proc`` sampler of the Spark Python workers
  (count and summed RSS) descended from this process.
* ``dir_stats`` — file count and bytes of an output directory.
"""

from __future__ import annotations

import os
import re
import threading
import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL UI metric string -> number (bytes, seconds or a count).
    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt_ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStatus:
    """Reads the status stores of one SparkContext. Every call is a few
    py4j round trips per stage/node, so it runs outside timed regions."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = sc._jvm
        self._gw = sc._gateway

    def stages(self, t0: float, t1: float, with_tasks: bool = False) -> list[dict]:
        """Completed stages submitted within [t0, t1] (epoch seconds)."""
        empty = self._jvm.java.util.ArrayList()
        seq = self._store.stageList(empty, False, False, self._gw.new_array(self._gw.jvm.double, 0), empty)
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            start, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if start is None or end is None or start < t0 - 1e-3 or start > t1:
                continue
            st = {
                "stage": s.stageId(), "name": s.name(), "start": start, "end": end,
                "tasks": s.numTasks(), "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9, "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(), "shuffle_write_bytes": s.shuffleWriteBytes(),
            }
            if with_tasks:
                tl = self._store.taskList(s.stageId(), s.attemptId(), 100_000)
                durs = []
                for j in range(tl.size()):
                    d = tl.apply(j).duration()
                    if d.isDefined():
                        durs.append(d.get() / 1e3)
                st["task_s"] = durs
            out.append(st)
        return out

    def sql_executions(self, t0: float, t1: float, node_prefixes: tuple = ()) -> list[dict]:
        """SQL executions submitted within [t0, t1], each with the summed
        metrics of its plan nodes whose name starts with one of
        ``node_prefixes`` (e.g. ``ArrowEvalPython``)."""
        seq = self._sql.executionsList()
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            start = e.submissionTime() / 1000.0
            end = _opt_ms(e.completionTime())
            if start < t0 - 1e-3 or start > t1 or end is None:
                continue
            rec = {"id": e.executionId(), "desc": e.description(), "start": start, "end": end,
                   "jobs": e.jobs().size(), "nodes": {}}
            if node_prefixes:
                vals = self._sql.executionMetrics(e.executionId())
                it = self._sql.planGraph(e.executionId()).allNodes().iterator()
                while it.hasNext():
                    node = it.next()
                    name = node.name()
                    if not name.startswith(node_prefixes):
                        continue
                    acc = rec["nodes"].setdefault(name, {})
                    mi = node.metrics().iterator()
                    while mi.hasNext():
                        m = mi.next()
                        v = vals.get(m.accumulatorId())
                        if v.isDefined():
                            acc[m.name()] = acc.get(m.name(), 0.0) + parse_metric(v.get())
            out.append(rec)
        return out


def _children_map() -> dict:
    kids: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerSampler:
    """Samples count and summed RSS of the Spark Python workers (daemon
    and forked workers) descended from this process, every ``interval``
    seconds on a background thread; ``stop()`` joins it."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_rss_mb = 0.0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="worker-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = [p for p in descendants(me) if _is_python_worker(p)]
            rss = sum(_rss_kib(p) for p in pids) / 1024.0
            self.peak_rss_mb = max(self.peak_rss_mb, rss)
            self.peak_workers = max(self.peak_workers, len(pids))
            self._stop.wait(self.interval)

    def start(self) -> "WorkerSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Hadoop's checksum and marker
    files are not counted as data files but their bytes are."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            if not n.startswith((".", "_")):
                files += 1
    return files, size


def cpu_times() -> list:
    """The aggregate ``cpu`` line of /proc/stat (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list, after: list) -> float:
    """Hypervisor steal between two ``cpu_times`` readings, in percent:
    CPU time the host gave to other tenants (noise the run cannot control)."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def now() -> float:
    """Epoch seconds, the clock the status stores use."""
    return time.time()
