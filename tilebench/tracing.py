"""Measurement helpers: spans, peak RSS from /proc, and per-operator
metrics read back from Spark's SQL status store.

Spans are recorded only around calls the benchmark makes into the
engine; nothing inside the engine is instrumented.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

# --- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent); written out by the
    caller when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append({
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
        })
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.monotonic()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by its
        child spans (children are sequential, so their durations add)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def export(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]


# span name -> per-layer metric holding its self time
SPAN_METRICS = {
    "tiling.assign": "tiling.assign.s",
    "tiling.encode": "tiling.encode.s",
    "tiling.fold": "tiling.fold.s",
    "tiling.decode": "tiling.decode.s",
    "cellcover": "cellcover.s",
    "joins.candidates": "joins.candidate_join_s",
    "joins.refine": "joins.refine_s",
}


# --- peak RSS ------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: the benchmark
    process, the JVM it launched, and the Python workers the JVM forked."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds in a
    background thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False


# --- Spark SQL status store ------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")

# node names that end a stage: metrics above them do not include time
# spent below them
_STAGE_BOUNDARY = ("Exchange", "QueryStage", "AQEShuffleRead", "InMemoryTableScan", "Scan ")
_PYTHON_NODE = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "PythonMapInArrow")
PY_TIME = "time to run Python workers"


def parse_metric(text: str) -> float:
    """Formatted SQL metric -> number in seconds or bytes (counts as is).
    Aggregated metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def last_execution_id(spark) -> int:
    ids = [e.executionId() for e in _executions(spark)]
    return max(ids) if ids else -1


def _executions(spark):
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        yield it.next()


def plan_nodes(spark, after_id: int) -> list[dict]:
    """Every plan node of the SQL executions with id > ``after_id``:
    {exec, id, name, metrics {name: value}, children [node ids]}."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _executions(spark):
        eid = e.executionId()
        if eid <= after_id:
            continue
        graph = store.planGraph(eid)
        values = store.executionMetrics(eid)
        nodes = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            nd = it.next()
            ms = {}
            mit = nd.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    ms[m.name()] = ms.get(m.name(), 0.0) + parse_metric(v.get())
            nodes[nd.id()] = {"exec": eid, "id": nd.id(), "name": nd.name(), "metrics": ms, "children": []}
        eit = graph.edges().iterator()
        while eit.hasNext():
            ed = eit.next()
            if ed.toId() in nodes:
                nodes[ed.toId()]["children"].append(ed.fromId())
        out.extend(nodes.values())
    return out


def is_python(node) -> bool:
    return node["name"].startswith(_PYTHON_NODE)


OUT_ROWS = "number of output rows"


def index(nodes: list[dict]) -> dict[tuple[int, int], dict]:
    return {(n["exec"], n["id"]): n for n in nodes}


def below(node: dict, by_key: dict) -> list[dict]:
    """Every node under ``node`` in its execution, nearest first, once
    each (a reused exchange has several parents)."""
    out, seen, todo = [], set(), list(node["children"])
    while todo:
        i = todo.pop(0)
        c = by_key.get((node["exec"], i))
        if c is not None and i not in seen:
            seen.add(i)
            out.append(c)
            todo.extend(c["children"])
    return out


def python_exclusive(nodes: list[dict]) -> list[dict]:
    """Python-node times made exclusive.

    A Python node's 'time to run Python workers' includes the time its
    input took to arrive, and when another Python node feeds it in the
    same stage that is the upstream node's whole run time (measured:
    a pass-through mapInPandas after a sleeping one reports the
    sleeper's time). Exclusive time subtracts the inclusive time of the
    nearest Python nodes below it in the same stage. Returns one dict
    per Python node: name, inclusive, exclusive, grouped (fed by a
    partition-local Sort, the shape ``operators.grouped.apply_grouped``
    builds), rows (output rows)."""
    by_key = index(nodes)
    out = []
    for n in nodes:
        if not is_python(n):
            continue
        kids = [by_key.get((n["exec"], c)) for c in n["children"]]
        sorted_input = any(k is not None and k["name"] == "Sort" for k in kids)
        upstream, todo = [], [k for k in kids if k is not None]
        while todo:
            c = todo.pop()
            if c["name"].startswith(_STAGE_BOUNDARY):
                continue
            if is_python(c):
                upstream.append(c)
                continue
            todo.extend(k for k in (by_key.get((n["exec"], i)) for i in c["children"]) if k is not None)
        incl = n["metrics"].get(PY_TIME, 0.0)
        up = sum(c["metrics"].get(PY_TIME, 0.0) for c in upstream)
        out.append({
            "exec": n["exec"], "name": n["name"], "inclusive": incl,
            "exclusive": max(0.0, incl - up), "grouped": sorted_input,
            "rows": n["metrics"].get(OUT_ROWS, 0.0),
        })
    return out


def engine_metrics(nodes: list[dict]) -> dict[str, float]:
    def total(metric: str) -> float:
        return sum(n["metrics"].get(metric, 0.0) for n in nodes)

    py = python_exclusive(nodes)
    return {
        "spark.scan_s": sum(n["metrics"].get("scan time", 0.0) for n in nodes if n["name"].startswith("Scan")),
        "spark.shuffle_write_bytes": total("shuffle bytes written"),
        "spark.shuffle_fetch_wait_s": total("fetch wait time"),
        "spark.sort_s": total("sort time"),
        "spark.spill_bytes": total("spill size"),
        "spark.python_s": sum(p["exclusive"] for p in py),
        "spark.python_init_s": total("time to start Python workers") + total("time to initialize Python workers"),
        "grouped.python_s": sum(p["exclusive"] for p in py if p["grouped"]),
    }
