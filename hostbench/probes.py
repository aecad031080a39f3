"""Tracing and host probes, all measured from outside the program.

- ``Tracer`` wraps the program's public functions in place and records a
  span (name, start, end, parent span name, attributes) per call while
  ``on`` is set.
  Spans stay in memory; the run reduces them to per-layer metrics at exit.
- ``SparkStatus`` reads Spark's own status stores (kept with
  ``spark.ui.enabled=false``): per-node SQL metrics, jobs and stages
  submitted since ``mark()``.
- ``RssSampler`` samples the summed RSS of this process and every
  descendant (the Spark JVM and its Python workers).
- ``Weather`` records steal, CPU pressure and load over a run.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time


class Tracer:
    def __init__(self):
        self.spans = []
        self.on = False
        self._open = []  # names of the spans enclosing the current call

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call;
        ``on_result(span, args, result)`` may add attributes."""
        inner = getattr(owner, attr)
        tracer = self

        @functools.wraps(inner)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return inner(*args, **kwargs)
            parent = tracer._open[-1] if tracer._open else None
            span = {"name": name, "parent": parent, "start": time.time()}
            tracer._open.append(name)
            try:
                result = inner(*args, **kwargs)
            except BaseException:
                span["error"] = True
                raise
            finally:
                tracer._open.pop()
                span["end"] = time.time()
                tracer.spans.append(span)
            if on_result is not None:
                on_result(span, args, result)
            return result

        setattr(owner, attr, wrapper)

    def select(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]


_NUM = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")
_UNIT = {
    "": 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text) -> float:
    """A rendered SQL metric as a number: seconds for times, bytes for
    sizes. Per-task metrics render as ``total (min, med, max ...)\\n<total>
    (...)``; single values as ``<value>``."""
    if text is None:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class SparkStatus:
    """SQL executions, jobs and stages submitted after ``mark()``."""

    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._exec_mark = self._job_mark = self._stage_mark = -1

    def mark(self) -> None:
        self._exec_mark = max([e["id"] for e in self.executions(all_=True)], default=-1)
        self._job_mark = max([j["id"] for j in self.jobs(all_=True)], default=-1)
        self._stage_mark = max([s["id"] for s in self.stages(all_=True)], default=-1)

    def executions(self, all_: bool = False, nodes: bool = False) -> list:
        out = []
        for e in _iter(self.sql.executionsList()):
            eid = e.executionId()
            if not all_ and eid <= self._exec_mark:
                continue
            rec = {"id": eid, "start": e.submissionTime() / 1000.0}
            if nodes:
                values = self.sql.executionMetrics(eid)
                graph = self.sql.planGraph(eid)
                rec["nodes"] = []
                for n in _iter(graph.allNodes()):
                    mets = {}
                    for x in _iter(n.metrics()):
                        v = values.get(x.accumulatorId())
                        mets[x.name()] = v.get() if v.isDefined() else None
                    rec["nodes"].append({"id": n.id(), "name": n.name(), "desc": n.desc(), "metrics": mets})
                rec["edges"] = [(x.fromId(), x.toId()) for x in _iter(graph.edges())]
            out.append(rec)
        return out

    def jobs(self, all_: bool = False) -> list:
        out = []
        for j in _iter(self.app.jobsList(None)):
            if not all_ and j.jobId() <= self._job_mark:
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            out.append(
                {
                    "id": j.jobId(),
                    "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                }
            )
        return out

    def stages(self, all_: bool = False) -> list:
        out = []
        for s in _iter(self.app.stageList(None, False, False, self._no_quantiles, None)):
            if not all_ and s.stageId() <= self._stage_mark:
                continue
            out.append(
                {
                    "id": s.stageId(),
                    "run_s": s.executorRunTime() / 1000.0,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
            )
        return out


def node_sum(executions: list, node_name: str, metric: str, where=None) -> float:
    return sum(
        parse_metric(n["metrics"].get(metric))
        for e in executions
        for n in e["nodes"]
        if n["name"] == node_name and (where is None or where(n, e))
    )


def feeds_lookup_join(node: dict, execution: dict) -> bool:
    """True for a BroadcastExchange (or its query stage) whose parent
    chain reaches a join on the lookup dictionary's key column."""
    by_id = {n["id"]: n for n in execution["nodes"]}
    parent = {a: b for a, b in execution["edges"]}
    cur = node["id"]
    for _ in range(4):
        cur = parent.get(cur)
        if cur is None:
            return False
        n = by_id[cur]
        if n["name"].endswith("Join"):
            return "__lfts_k" in n["desc"]
    return False


def is_lookup_join(node: dict, execution: dict) -> bool:
    return "__lfts_k" in node["desc"]


def merged_busy(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------

def descendants(pid: int) -> list:
    children = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``pid`` and every
    live descendant. Differenced over an interval it counts the CPU the
    tree spent in it, also of processes that ended and were reaped."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants."""

    def __init__(self, interval: float = 0.25):
        self.peak = 0
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self._interval)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# host weather
# ---------------------------------------------------------------------------

def _cpu_times():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _cpu_pressure_us():
    try:
        with open("/proc/pressure/cpu") as fh:
            return int(fh.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return None


class Weather:
    """Steal share, CPU pressure (``some`` stall share) and load over the
    interval since construction."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.cpu0 = _cpu_times()
        self.psi0 = _cpu_pressure_us()

    def record(self) -> dict:
        cpu1, psi1 = _cpu_times(), _cpu_pressure_us()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        wall = time.monotonic() - self.t0
        steal = delta[7] if len(delta) > 7 else 0
        with open("/proc/loadavg") as fh:
            load = [float(x) for x in fh.read().split()[:3]]
        return {
            "steal_pct": 100.0 * steal / max(1, sum(delta)),
            "cpu_pressure_pct": (
                100.0 * (psi1 - self.psi0) / 1e6 / wall
                if psi1 is not None and self.psi0 is not None and wall > 0
                else 0.0
            ),
            "loadavg": load,
            "nproc": len(os.sched_getaffinity(0)),
        }
