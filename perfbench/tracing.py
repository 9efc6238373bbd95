"""Measurement plumbing: spans, Spark status-store metrics, process tree.

Spans are kept in memory (name, start, end, parent, run id) and written
out once at the end of a traced run. Spark SQL executions become child
spans of the layer call that triggered them, timed by the status store's
submission and completion times and carrying that execution's node
metrics. With tracing off every call here is a no-op except the
process-tree readers, which the untraced run needs for ``cpu_s`` and
``peak_rss_mb``.
"""

from __future__ import annotations

import json
import os
import re
import signal
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- process tree -------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rfind(")") + 2 :].split()
        table[int(d)] = (int(fields[1]), fields)
    return table


def tree_pids() -> dict[int, list[str]]:
    """This process and all its live descendants -> their /proc stat fields."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
            todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the process tree, reaped children included."""
    total = 0
    for fields in tree_pids().values():
        total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total / _CLK_TCK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the machine's CPUs since boot. Steal is time
    the hypervisor ran something else while a CPU of this machine was
    ready, which slows every timing here."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_peak_rss_mb() -> dict[str, float]:
    """Per process name in the live tree, the sum of each process's peak
    resident set, in MB."""
    out: dict[str, float] = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = status["Name"].strip()
        out[name] = out.get(name, 0.0) + int(status.get("VmHWM", "0 kB").split()[0]) / 1024
    return out


def process_start_epoch() -> float:
    """Wall-clock time at which this process was launched."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    with open("/proc/self/stat") as f:
        s = f.read()
    start_ticks = int(s[s.rfind(")") + 2 :].split()[19])
    return btime + start_ticks / _CLK_TCK


def kill_descendants() -> None:
    me = os.getpid()
    for pid in tree_pids():
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def wait_descendants_gone(timeout_s: float) -> bool:
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not [p for p in tree_pids() if p != me]:
            return True
        time.sleep(0.1)
    return False


# -- Spark SQL status store ------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_SPREAD = re.compile(r"\(([^()]*?),\s*([^()]*?),\s*([^()]*?)\s*\(stage ([0-9]+)\.")


def parse_metric(text: str) -> dict:
    """Parse a formatted SQL metric into seconds / bytes / a count.

    Aggregated task metrics read ``total (min, med, max (stageId: taskId))
    \\n<total> (<min>, <med>, <max> (stage S.A: task T))``."""
    body = text.split("\n")[-1]
    m = _VALUE.match(body)
    out = {"value": 0.0}
    if m:
        out["value"] = float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)
    s = _SPREAD.search(body)
    if s:
        vals = []
        for part in s.group(1, 2, 3):
            mm = _VALUE.match(part)
            vals.append(float(mm.group(1).replace(",", "")) * _UNITS.get(mm.group(2), 1.0) if mm else 0.0)
        out["min"], out["med"], out["max"] = vals
        out["stage"] = int(s.group(4))
    return out


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def executions_since(spark, after_id: int) -> list[dict]:
    """Completed SQL executions with id > ``after_id``: times and node metrics.

    Each node is ``{"id", "name", "children", "metrics": {name: parsed}}``;
    ``children`` are the ids of the nodes feeding it."""
    store = spark._jsparkSession.sharedState().statusStore()
    # the status store is fed asynchronously by the listener bus
    deadline = time.monotonic() + 10
    while True:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        execs = store.executionsList()
        mine = [execs.apply(i) for i in range(execs.size()) if execs.apply(i).executionId() > after_id]
        if all(e.completionTime().isDefined() for e in mine) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    out = []
    for e in mine:
        eid = e.executionId()
        done = e.completionTime()
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = {}
        all_nodes = graph.allNodes()
        for k in range(all_nodes.size()):
            n = all_nodes.apply(k)
            metrics = {}
            ms = n.metrics()
            for q in range(ms.size()):
                mm = ms.apply(q)
                v = values.get(mm.accumulatorId())
                if v.isDefined():
                    metrics[mm.name()] = parse_metric(v.get())
            nodes[n.id()] = {"id": n.id(), "name": n.name(), "children": [], "metrics": metrics}
        edges = graph.edges()
        for k in range(edges.size()):
            edge = edges.apply(k)
            if edge.toId() in nodes:
                nodes[edge.toId()]["children"].append(edge.fromId())
        out.append(
            {
                "id": eid,
                "description": e.description().split("\n")[0][:120],
                "start": e.submissionTime() / 1000.0,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else time.time(),
                "nodes": nodes,
            }
        )
    return out


# -- spans ------------------------------------------------------------------


class Tracer:
    """In-memory span recorder; a no-op when disabled."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_executions(self, parent: dict, executions: list[dict]) -> None:
        """Attach SQL executions as child spans of ``parent``."""
        t0 = time.perf_counter()
        pidx = self.spans.index(parent)
        for e in executions:
            self.spans.append(
                {
                    "name": "sql." + _execution_kind(e),
                    "start": e["start"],
                    "end": e["end"],
                    "parent": pidx,
                    "run_id": self.run_id,
                    "attrs": {
                        "execution_id": e["id"],
                        "description": e["description"],
                        "nodes": {
                            n["name"] + "#" + str(n["id"]): {
                                k: v["value"] for k, v in n["metrics"].items()
                            }
                            for n in e["nodes"].values()
                            if n["metrics"]
                        },
                    },
                }
            )
        self.self_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by children."""
        covered = [[] for _ in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s, kids in zip(self.spans, covered):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - _union(kids, s["start"], s["end"])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _execution_kind(e: dict) -> str:
    names = {n["name"] for n in e["nodes"].values()}
    if any(n.startswith("Execute InsertIntoHadoopFsRelationCommand") for n in names):
        return "write"
    if "MapInPandas" in names:
        return "extract"
    return "query"


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total

