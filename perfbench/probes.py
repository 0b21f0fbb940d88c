"""Measurement taken from outside the program: /proc process trees,
host load, and Spark's own SQL and streaming metrics.

Nothing here changes what the program does; the Spark readers only
query the session's status store and streaming listener bus.
"""

from __future__ import annotations

import glob
import os
import re
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def proc_table() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss KiB)."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
            lp, rp = data.index("("), data.rindex(")")
            f = data[rp + 2 :].split()
            cpu = sum(int(x) for x in f[11:15]) / _HZ
            out[int(data[:lp])] = (int(f[1]), data[lp + 1 : rp], cpu, int(f[21]) * _PAGE_KB)
        except (OSError, ValueError, IndexError):
            continue  # process exited mid-scan
    return out


def subtree(table: dict, root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table:
            out.append(p)
            stack.extend(kids.get(p, ()))
    return out


def spark_jvm_pid() -> int:
    """The JVM this Python process launched for its SparkContext."""
    table = proc_table()
    me = os.getpid()
    for pid in subtree(table, me):
        if table[pid][1] == "java":
            return pid
    raise RuntimeError("no Spark JVM under this process")


def tree_cpu(root: int) -> tuple[float, float]:
    """(CPU s of ``root`` itself, CPU s of its descendants)."""
    table = proc_table()
    pids = subtree(table, root)
    own = table[root][2] if root in table else 0.0
    return own, sum(table[p][2] for p in pids if p != root)


def sys_cpu() -> tuple[float, float]:
    """Host-wide (busy, stolen) CPU seconds over all cores. Busy is
    user + nice + system + irq + softirq; stolen is time the hypervisor
    ran other guests while this one wanted to run."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _HZ, v[7] / _HZ


class LoadMeter:
    """Load from outside this benchmark over a window: host busy-core
    rate minus the rate of this benchmark's own process tree (as
    bench.py's ``_LoadMeter``), plus the cores stolen by the hypervisor.
    An audit beside each sample; no metric is derived from it."""

    def __init__(self) -> None:
        self.me = os.getpid()

    def _own(self) -> float:
        own, kids = tree_cpu(self.me)
        return own + kids

    def start(self) -> None:
        self.t0, self.own0, self.sys0 = time.monotonic(), self._own(), sys_cpu()

    def stop(self) -> dict:
        wall = max(1e-6, time.monotonic() - self.t0)
        own = (self._own() - self.own0) / wall
        busy, steal = ((b - a) / wall for a, b in zip(self.sys0, sys_cpu()))
        return dict(
            loadavg_1m=round(os.getloadavg()[0], 2),
            ext_busy_cores=round(max(0.0, busy - own), 2),
            stolen_cores=round(steal, 2),
        )


class RssPeak:
    """Peak summed RSS of a Spark JVM plus its Python daemon and
    workers, sampled on a thread. Other descendants are short-lived
    helpers; one caught between fork and exec would show the JVM's
    whole address space a second time."""

    def __init__(self, root_fn, interval: float = 0.2) -> None:
        self.root_fn, self.interval = root_fn, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            root = self.root_fn()
            if root is not None:
                table = proc_table()
                pids = [p for p in subtree(table, root) if p == root or table[p][1].startswith("python")]
                self.peak_kb = max(self.peak_kb, sum(table[p][3] for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=5)


# ---- Spark SQL status store -------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NUM = r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?"


def _parse(text: str) -> tuple[float, float | None, float | None]:
    """A rendered SQL metric -> (total, median, max) in base units
    (seconds, bytes or a count). Per-task stats exist only for metrics
    rendered as 'total (min, med, max (stageId: taskId))'."""
    lines = text.strip().split("\n")
    vals = [
        float(n.replace(",", "")) * _UNITS.get(u or "", 1.0)
        for n, u in re.findall(_NUM, lines[-1].split("(stage")[0])
    ]
    if len(vals) >= 4:
        return vals[0], vals[2], vals[3]
    return (vals[0] if vals else 0.0), None, None


class SqlMetrics:
    """Node metrics of the SQL executions a traced step ran, read from
    ``sharedState().statusStore()`` (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far: the status store is filled from it asynchronously."""
        self.bus.waitUntilEmpty()

    def last_id(self) -> int:
        it = self.store.executionsList().iterator()
        last = -1
        while it.hasNext():
            last = max(last, it.next().executionId())
        return last

    def nodes_since(self, after_id: int) -> list[tuple[int, str, str, dict]]:
        """(execution id, node name, node description, {metric: (total,
        med, max)}) for every plan node of the executions newer than
        ``after_id``."""
        out = []
        it = self.store.executionsList().iterator()
        while it.hasNext():
            eid = it.next().executionId()
            if eid <= after_id:
                continue
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                metrics = {}
                mi = node.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = _parse(str(v.get()))
                out.append((eid, node.name().strip(), node.desc(), metrics))
        return out


def make_progress_listener():
    """A StreamingQueryListener collecting the ``durationMs`` of every
    progress event that read rows into ``listener.durations``; its
    ``terminated`` event is set once a query has terminated."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.durations: list[dict] = []
            self.terminated = threading.Event()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            if p.numInputRows > 0:
                self.durations.append(dict(p.durationMs))

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            self.terminated.set()

    return _Progress()
