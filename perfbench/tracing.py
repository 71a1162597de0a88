"""Spans, engine counters and memory readings, all taken from outside
the package.

Spans are recorded here, around the benchmark's own calls into each
layer; nothing inside ``dask_traj_spark`` is instrumented.  Engine
counters come from the executed physical plans of the DataFrames a
traced pass materializes (SQL metrics, read over py4j) and from
Spark's status tracker (tasks).  Memory is ``VmHWM`` read from
``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

#: Layers whose span self times are reported as ``<layer>.self_s``.
SELF_TIME_LAYERS = (
    "sources", "trajectory", "distance", "sql", "agg", "dedup", "spark",
)


class Tracer:
    """In-memory span recorder.

    A span is (id, name, start, end, parent, run, pass).  Spans of one
    pass share the ``pass`` number; every span of one benchmark run
    shares ``run``.  When ``enabled`` is false every method is a cheap
    no-op, so untraced passes run the same benchmark code.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no: int | None = None
        #: (enclosing span name, JVM QueryExecution) of each DataFrame
        #: materialized in the pass
        self.executed: list[tuple[str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "pass": self.pass_no,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def collect(self, df):
        """``df.toPandas()`` inside a ``spark.execute`` span.  The action
        runs on the DataFrame's own QueryExecution, so a traced pass can
        walk its executed plan afterwards.  Only that JVM handle is kept,
        so the pass's Python objects are freed as in an untraced pass."""
        owner = self.spans[self._stack[-1]]["name"] if self._stack else ""
        with self.span("spark.execute"):
            out = df.toPandas()
        if self.enabled:
            self.executed.append((owner, df._jdf.queryExecution()))
        return out

    def durations(self, pass_no: int) -> dict[str, float]:
        """Inclusive seconds per span name within one pass (summed)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] == pass_no:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self, pass_no: int) -> dict[str, float]:
        """Self seconds per layer within one pass: each span's duration
        minus the time its child spans cover (children of one parent
        run one after another, so their durations add)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["pass"] == pass_no and s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] != pass_no:
                continue
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        """Write every span, plus ``extra``, as one JSON document."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=spans), fh, indent=1)


# ------------------------------------------------------- executed plans


def _metric_values(node) -> dict[str, int]:
    it = node.metrics().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def plan_counters(qe) -> dict[str, int]:
    """Walk the executed (post-AQE) physical plan of a materialized
    DataFrame's QueryExecution and sum the SQL metrics the benchmark
    reports.

    Reused exchanges and cached-table scans are not descended (their
    work is not re-run); adaptive wrappers and query stages are.
    """
    c = {
        "exchanges": 0, "shuffle_bytes": 0, "spill_bytes": 0,
        "arrow_rows_in": 0, "arrow_rows_out": 0,
        "arrow_bytes_in": 0, "arrow_bytes_out": 0,
        "scan_files": 0,
    }

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls in ("ReusedExchangeExec", "InMemoryTableScanExec"):
            return
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        m = _metric_values(node)
        if cls.endswith("ExchangeExec"):
            c["exchanges"] += 1
        c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        c["spill_bytes"] += m.get("spillSize", 0)
        if cls == "FileSourceScanExec":
            c["scan_files"] += m.get("numFiles", 0)
        if "pythonDataSent" in m:
            c["arrow_bytes_in"] += m["pythonDataSent"]
            c["arrow_bytes_out"] += m.get("pythonDataReceived", 0)
            c["arrow_rows_out"] += m.get("pythonNumRowsReceived", 0)
            child = node.children().apply(0)
            c["arrow_rows_in"] += _output_rows(child)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(qe.executedPlan())
    return c


def _output_rows(node) -> int:
    """Rows a plan node produced: its own ``numOutputRows`` metric,
    looking through wrappers that do not count rows themselves."""
    while True:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
            continue
        if cls.endswith("QueryStageExec"):
            node = node.plan()
            continue
        m = _metric_values(node)
        if "numOutputRows" in m or node.children().size() != 1:
            return m.get("numOutputRows", 0)
        node = node.children().apply(0)


def task_counts(sc, group: str) -> tuple[int, int]:
    """(completed, failed) tasks over every stage of every job that
    ran under the job group, from Spark's status tracker."""
    st = sc.statusTracker()
    stages = set()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    done = failed = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None:
            done += info.numCompletedTasks
            failed += info.numFailedTasks
    return done, failed


# --------------------------------------------------------------- memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def peak_rss_mb(root_pid: int) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``root_pid`` and all
    its live descendants, in MiB."""
    kids = _children_map()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
