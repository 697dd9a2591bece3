"""Layer measurement from outside the program.

Three instruments, none of which touches ``geoglue_spark``:

* spans: wall time of each public call the benchmark makes, kept in memory;
* job counting: the scheduler's job-id counter is read before and after a
  call (one client thread, so every job in between is the call's), and
  the status tracker gives the tasks those jobs completed;
* plan metrics: after a DataFrame has run, its executed physical plan is
  walked (stepping into adaptive query stages) and Spark's own SQL
  metrics are summed per operator kind.

A layer's self time is the time of a noop sink over the plan prefix that
ends with that layer, minus the prefix that ends with the layer before.
The sink executes the prefix's physical plan and discards its rows.
"""

from __future__ import annotations

import time
from collections import defaultdict

# SQL metric type -> multiplier to seconds (times) or 1 (sizes, counts)
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


class Spans:
    """In-memory spans: (name, start, end, parent)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._open: list[str] = []

    def run(self, name: str, fn, *args, **kwargs):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._open.pop()
            self.spans.append((name, t0, time.perf_counter(), parent))

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.spans if n == name]


def counted(spark, fn, *args, **kwargs):
    """Run ``fn``; returns (result, seconds, jobs launched, tasks completed)."""
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    first = scheduler.numTotalJobs()
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    dt = time.perf_counter() - t0
    last = scheduler.numTotalJobs()
    tracker = sc.statusTracker()
    tasks = 0
    for j in range(first, last):
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            tasks += st.numCompletedTasks if st else 0
    return out, dt, last - first, tasks


def _metrics(node) -> dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = max(0, m.value()) * _UNIT.get(m.metricType(), 1)
    return out


def _flatten(node, parent: int | None, out: list) -> None:
    """Pre-order list of (name, metrics, parent index)."""
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        _flatten(node.finalPhysicalPlan(), parent, out)
        return
    me = len(out)
    out.append((name, _metrics(node), parent))
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        _flatten(node.plan(), me, out)
    children = node.children()
    for k in range(children.size()):
        _flatten(children.apply(k), me, out)


def plan_totals(df) -> dict[str, float]:
    """Sum the executed plan's SQL metrics by operator kind. ``df`` must
    have run (collect, or :func:`noop_sink`) through its own query
    execution.

    ``top_agg_*`` describe the root-most aggregation: the first aggregate
    from the root and the first aggregate below the first exchange (its
    map-side partial). ``cover_broadcast_*`` count broadcasts of cached
    relations (the benchmark caches the cover and nothing else it joins).
    """
    nodes: list = []
    _flatten(df._jdf.queryExecution().executedPlan(), None, nodes)
    cached = [name == "InMemoryTableScan" for name, _, _ in nodes]
    for i in range(len(nodes) - 1, 0, -1):
        if cached[i] and nodes[i][2] is not None:
            cached[nodes[i][2]] = True

    t: dict[str, float] = defaultdict(float)
    first_exchange = next((i for i, n in enumerate(nodes) if n[0] == "Exchange"), None)
    is_agg = [name.endswith("Aggregate") for name, _, _ in nodes]
    top = [i for i in range(len(nodes)) if is_agg[i]][:1]
    if first_exchange is not None:
        top += [i for i in range(first_exchange, len(nodes)) if is_agg[i]][:1]
    for i, (name, m, _) in enumerate(nodes):
        if name == "Exchange":
            t["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif name == "BroadcastExchange":
            t["broadcast_bytes"] += m.get("dataSize", 0)
            t["broadcast_s"] += m.get("buildTime", 0)
            if cached[i]:
                t["cover_broadcast_bytes"] += m.get("dataSize", 0)
                t["cover_broadcast_s"] += m.get("buildTime", 0)
        elif name in ("ArrowEvalPython", "MapInPandas"):
            k = "arrow" if name == "ArrowEvalPython" else "pandas"
            t[f"{k}_rows"] += m.get("pythonNumRowsReceived", 0)
            t[f"{k}_bytes"] += m.get("pythonDataSent", 0)
            t[f"{k}_s"] += m.get("pythonTotalTime", 0)
        elif name.startswith("Scan") or name == "Range":
            t["scan_rows"] += m.get("numOutputRows", 0)
            t["scan_bytes"] += m.get("filesSize", 0)
        elif name.endswith("Join"):
            t["join_rows_max"] = max(t["join_rows_max"], m.get("numOutputRows", 0))
        elif name == "InMemoryTableScan":
            t["cache_rows_max"] = max(t["cache_rows_max"], m.get("numOutputRows", 0))
        if i in top:
            t["top_agg_s"] += m.get("aggTime", 0)
            t["top_agg_peak_mem"] += m.get("peakMemory", 0)
            if i != top[0]:
                t["top_agg_partial_rows"] += m.get("numOutputRows", 0)
    return dict(t)


def noop_sink(df) -> tuple[int, float]:
    """Execute ``df``'s physical plan, discard the rows; (rows, seconds)."""
    t0 = time.perf_counter()
    n = df._jdf.queryExecution().toRdd().count()
    return n, time.perf_counter() - t0


def prefix_profile(prefixes) -> dict[str, dict[str, float]]:
    """``prefixes``: [(layer, build)] in pipeline order, where ``build()``
    returns a FRESH DataFrame ending with that layer. Returns per layer its
    out rows, self time, this prefix's plan totals, and ``d_``-prefixed
    deltas of the additive totals against the prefix before it."""
    out = {}
    prev_s, prev_tot = 0.0, {}
    for layer, build in prefixes:
        df = build()
        rows, secs = noop_sink(df)
        tot = plan_totals(df)
        lay = dict(tot)
        for k in ("shuffle_bytes", "broadcast_bytes", "broadcast_s",
                  "arrow_rows", "arrow_bytes", "arrow_s",
                  "pandas_rows", "pandas_bytes", "pandas_s"):
            lay[f"d_{k}"] = tot.get(k, 0.0) - prev_tot.get(k, 0.0)
        lay.update(out_rows=rows, self_s=secs - prev_s)
        out[layer] = lay
        prev_s, prev_tot = secs, tot
    return out
