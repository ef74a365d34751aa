"""Per-layer measurement for the traced run, taken from outside the package.

The tracer wraps the package's public entry points in spans (name, start,
end, parent, draw id) kept in memory; the run writes them out at its end.
After each draw's top-level collect, the ``*_counters`` functions read what
Spark recorded for that query: Catalyst phase times, the operator metrics
of the final adaptive plan (descending into query stages, subqueries and
the cached plans behind ``InMemoryTableScan``, so work done inside
persisted seams is counted), the jobs/stages/tasks of the draw's job
group, the persistent RDDs the query left behind, and the files it wrote.

Host-level helpers (``/proc`` readers) live here too; they are used by
traced and untraced runs alike.
"""

from __future__ import annotations

import functools
import json
import os
import signal
import time
from collections import defaultdict
from contextlib import contextmanager

# Per-draw counters (name -> unit), summed over the timed draws and
# reported per draw.
DRAW_COUNTERS = {
    "queries.plan_build_s": "s",
    "tables.load_table_s": "s",
    "engine.sql_s": "s",
    "engine.sql_calls": "count",
    "dialect.translate_s": "s",
    "writes.files": "count",
    "writes.bytes": "bytes",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.scan.rows": "count",
    "exec.scan.bytes": "bytes",
    "exec.scan.time_s": "s",
    "exec.exchange.count": "count",
    "exec.exchange.shuffle_bytes": "bytes",
    "exec.exchange.write_time_s": "s",
    "exec.exchange.fetch_wait_s": "s",
    "exec.exchange.broadcast_bytes": "bytes",
    "exec.exchange.broadcast_collect_s": "s",
    "exec.aggjoin.agg_time_s": "s",
    "exec.aggjoin.peak_memory_bytes": "bytes",
    "exec.aggjoin.spill_bytes": "bytes",
    "exec.python.init_s": "s",
    "exec.python.total_s": "s",
    "exec.python.bytes_sent": "bytes",
    "exec.python.rows": "count",
    "seams.leaked_rdds": "count",
    "seams.cached_bytes": "bytes",
    "seams.inmemory_scan_rows": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
}

# Span name -> per-draw counter holding the time of its outermost calls.
_SPAN_COUNTERS = {
    "queries.plan_build": "queries.plan_build_s",
    "tables.load_table": "tables.load_table_s",
    "engine.sql": "engine.sql_s",
    "dialect.translate": "dialect.translate_s",
}

# Plan metric (display name, as in the Spark UI) -> per-draw counter.
_ANY_NODE_METRICS = {
    "shuffle bytes written": "exec.exchange.shuffle_bytes",
    "shuffle write time": "exec.exchange.write_time_s",
    "fetch wait time": "exec.exchange.fetch_wait_s",
    "time in aggregation build": "exec.aggjoin.agg_time_s",
    "peak memory": "exec.aggjoin.peak_memory_bytes",
    "spill size": "exec.aggjoin.spill_bytes",
    "time to initialize Python workers": "exec.python.init_s",
    "time to run Python workers": "exec.python.total_s",
    "data sent to Python workers": "exec.python.bytes_sent",
}
_SCAN_METRICS = {
    "number of output rows": "exec.scan.rows",
    "size of files read": "exec.scan.bytes",
    "scan time": "exec.scan.time_s",
}
_BROADCAST_METRICS = {
    "data size": "exec.exchange.broadcast_bytes",
    "time to collect": "exec.exchange.broadcast_collect_s",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # ms and ns timers -> s


class Tracer:
    """Spans around the package's entry points, opened from outside it."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index, draw id]
        self._stack: list[int] = []
        self.draw: str | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.draw])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def draw_span_counters(self, first_span: int) -> dict[str, float]:
        """Time of the outermost spans of each layer opened since
        ``first_span``, plus the number of ``Engine.sql`` calls."""
        out: dict[str, float] = defaultdict(float)
        spans = self.spans[first_span:]
        for name, start, end, parent, _ in spans:
            if name == "engine.sql":
                out["engine.sql_calls"] += 1
            counter = _SPAN_COUNTERS.get(name)
            if counter is None or end is None:
                continue
            # count a span only if no enclosing span has the same name
            p = parent
            while p is not None and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p is None:
                out[counter] += end - start
        return out


def install(tracer: Tracer) -> None:
    """Wrap the package's public entry points. Must run before
    ``queries.load_all``: query modules bind ``load_table`` at import."""
    from pyspark.sql.classic.dataframe import DataFrame

    from minimised_impala_spark import dialect, engine, tables

    tracer.wrap(tables, "load_table", "tables.load_table")
    tracer.wrap(dialect, "translate", "dialect.translate")
    tracer.wrap(engine.Engine, "sql", "engine.sql")
    tracer.wrap(DataFrame, "collect", "dataframe.collect")


def _plan_tree(spark, df) -> dict:
    """The executed plan as JSON, in one call: ``SparkPlanInfo`` (what the
    SQL UI and event log record) already descends into the final adaptive
    plan, query stages, subqueries and the cached plan of every
    ``InMemoryTableScan``."""
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$"))
    plan = df._jdf.queryExecution().executedPlan()
    info = jvm.org.apache.spark.sql.execution.SparkPlanInfo.fromSparkPlan(plan)
    return json.loads(mapper.writeValueAsString(info))


def plan_counters(spark, df) -> dict[str, float]:
    """Operator metrics of ``df``'s executed plan, by layer. A node reached
    twice (a reused exchange, a seam scanned twice) carries the same
    accumulators, so each accumulator is counted once."""
    wanted: dict[int, tuple[str, str]] = {}  # accumulator id -> (counter, metric type)
    exchanges: set[int] = set()
    stack = [_plan_tree(spark, df)]
    while stack:
        node = stack.pop()
        stack.extend(node["children"])
        name = node["nodeName"]
        metrics = {m["name"]: m for m in node["metrics"]}
        chosen = {k: c for k, c in _ANY_NODE_METRICS.items() if k in metrics}
        if name.startswith("Scan ") and "size of files read" in metrics:
            chosen.update(_SCAN_METRICS)
        elif name in ("Exchange", "BroadcastExchange") and metrics:
            exchanges.add(min(m["accumulatorId"] for m in node["metrics"]))
            if name == "BroadcastExchange":
                chosen.update(_BROADCAST_METRICS)
        elif name == "InMemoryTableScan":
            chosen["number of output rows"] = "seams.inmemory_scan_rows"
        elif "data sent to Python workers" in metrics:
            chosen["number of output rows"] = "exec.python.rows"
        for metric, counter in chosen.items():
            if metric in metrics:
                m = metrics[metric]
                wanted[m["accumulatorId"]] = (counter, m["metricType"])

    accumulators = spark._jvm.org.apache.spark.util.AccumulatorContext
    out: dict[str, float] = defaultdict(float)
    out["exec.exchange.count"] = len(exchanges)
    for acc_id, (counter, metric_type) in wanted.items():
        acc = accumulators.get(acc_id)
        if acc.isDefined():
            out[counter] += max(acc.get().value(), 0) * _UNIT_SCALE.get(metric_type, 1.0)
    return out


def catalyst_counters(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_s"] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out


def scheduler_counters(spark, group: str) -> dict[str, float]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage and stage.numCompletedTasks:
                stages += 1
                tasks += stage.numCompletedTasks
    return {"exec.jobs": len(jobs), "exec.stages": stages, "exec.tasks": tasks}


def seam_counters(spark) -> dict[str, float]:
    jsc = spark.sparkContext._jsc
    cached = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return {"seams.leaked_rdds": jsc.getPersistentRDDs().size(), "seams.cached_bytes": cached}


def written_since(root: str, since: float) -> dict[str, float]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                st = os.stat(os.path.join(dirpath, n))
            except FileNotFoundError:
                continue
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return {"writes.files": files, "writes.bytes": size}


# ---------------------------------------------------------------- host


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the driver JVM and Python workers)."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent_of[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (FileNotFoundError, ProcessLookupError):
        return False


def wait_ended(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; SIGKILL whatever outlives ``timeout``."""
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """VmHWM (peak resident set) summed per command name over ``pids``, in MB."""
    out: dict[str, float] = defaultdict(float)
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[name] += int(line.split()[1]) / 1024
        except (FileNotFoundError, ProcessLookupError):
            continue
    return dict(out)
