"""Spans and counters for the benchmark's traced runs.

The tracer wraps the public functions of the engine's layers from the
outside (no program code changes): every call into a wrapped function opens
a span with a name, start, end, parent span and op id. Spans stay in memory
until the run ends. Counters come from Spark itself: the job group of each
op (``statusTracker``) and the SQLMetrics of the final adaptive plan.
"""

from __future__ import annotations

import contextlib
import functools
import re
import sys
import threading
import time
from collections import defaultdict

# (span name, module, attribute); a class attribute is "Class.method".
# Several functions may share one span name: they form one layer metric.
WRAPPED = [
    ("catalog.load_table", "datalake_brief_spark.catalog", "load_table"),
    ("io.read_parquet", "datalake_brief_spark.sources.io", "read_parquet"),
    ("txlog.append", "datalake_brief_spark.sources.txlog", "append"),
    ("txlog.merge_into", "datalake_brief_spark.sources.txlog", "merge_into"),
    ("txlog.delete_where", "datalake_brief_spark.sources.txlog", "delete_where"),
    ("txlog.delete_where_dv", "datalake_brief_spark.sources.txlog", "delete_where_dv"),
    ("txlog.optimize", "datalake_brief_spark.sources.txlog", "optimize"),
    ("txlog.snapshot", "datalake_brief_spark.sources.txlog", "current_version"),
    ("txlog.snapshot", "datalake_brief_spark.sources.txlog", "visible_files"),
    ("txlog.read_plan", "datalake_brief_spark.sources.txlog", "read_pruned"),
    ("txlog.read_plan", "datalake_brief_spark.sources.txlog", "read_point"),
    ("txlog.read_plan", "datalake_brief_spark.sources.txlog", "read_mor"),
    ("logstore.write", "datalake_brief_spark.sources.logstore", "LocalLogStore.put_if_absent"),
    ("logstore.write", "datalake_brief_spark.sources.logstore", "LocalLogStore.put_atomic"),
    ("logstore.write", "datalake_brief_spark.sources.logstore", "LocalLogStore.put_atomic_bytes"),
    ("logstore.read", "datalake_brief_spark.sources.logstore", "LocalLogStore.read_text"),
    ("logstore.read", "datalake_brief_spark.sources.logstore", "LocalLogStore.list_dir"),
]


class Tracer:
    """In-memory span recorder. Disabled, a wrapped call costs one flag test."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op = None
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def install(self) -> None:
        """Wrap every function in ``WRAPPED`` wherever a loaded engine
        module holds a reference to it (``from x import f`` copies too)."""
        for name, mod_name, attr in WRAPPED:
            owner = sys.modules[mod_name]
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            orig = getattr(owner, attr)
            wrapper = self._wrap(orig, name)
            holders = [owner] + [
                m
                for k, m in list(sys.modules.items())
                if k.startswith("datalake_brief_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
            for h in holders:
                setattr(h, attr, wrapper)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the time its child spans cover."""
    child_cover: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and "end" in s:
            child_cover[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if "end" in s:
            out[s["name"]] += s["end"] - s["start"] - child_cover[s["id"]]
    return dict(out)


def span_totals(spans: list[dict], ops: set) -> dict[str, float]:
    """Inclusive duration per span name over the spans of ``ops``."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["op"] in ops and "end" in s:
            out[s["name"]] += s["end"] - s["start"]
    return dict(out)


def job_counters(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = []
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
_PYTHON_NODES = ("Python", "Pandas", "Arrow")


def plan_counters(jvm, qe) -> dict[str, int]:
    """Walk the final executed plan of one query — through
    ``AdaptiveSparkPlanExec`` and every ``*QueryStageExec`` — and sum the
    SQLMetrics of each layer's nodes."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    c: dict[str, int] = defaultdict(int)
    todo = [qe.executedPlan()]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            c["operators.reused_exchanges"] += 1
            continue
        m = {k: int(v) for k, v in _METRIC.findall(p.metrics().toString())}
        if cls == "FileSourceScanExec" or cls == "BatchScanExec":
            c["catalog.files_read"] += m.get("numFiles", 0)
            c["catalog.bytes_read"] += m.get("filesSize", 0)
            c["catalog.rows_read"] += m.get("numOutputRows", 0)
            c["catalog.scan_time_ms"] += m.get("scanTime", 0)
        elif cls == "ShuffleExchangeExec":
            c["operators.exchanges"] += 1
            c["operators.shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            c["operators.shuffle_fetch_wait_ms"] += m.get("fetchWaitTime", 0)
            if "RoundRobinPartitioning" in p.outputPartitioning().toString():
                c["functions.spread_shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif cls == "BroadcastExchangeExec":
            c["operators.broadcast_build_ms"] += m.get("buildTime", 0)
            c["operators.broadcast_bytes"] += m.get("dataSize", 0)
        elif any(k in cls for k in _PYTHON_NODES):
            c["operators.python_nodes"] += 1
            c["operators.python_rows"] += m.get("pythonNumRowsReceived", 0)
            c["operators.python_bytes"] += m.get("pythonDataSent", 0)
            c["operators.python_boot_ms"] += m.get("pythonBootTime", 0)
            c["operators.python_init_ms"] += m.get("pythonInitTime", 0)
            c["operators.python_eval_ms"] += m.get("pythonTotalTime", 0)
        c["operators.spill_bytes"] += m.get("spillSize", 0)
        c["operators.agg_time_ms"] += m.get("aggTime", 0)
        kids = conv.asJava(p.children())
        todo.extend(kids.get(i) for i in range(kids.size()))
    return dict(c)
