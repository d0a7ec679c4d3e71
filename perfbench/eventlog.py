"""Spark event-log reader and per-layer attribution.

The traced run tags every call it makes with ``setJobGroup``; this module
reads the session's (uncompressed) event log and folds the logged task
metrics and SQL operator metrics of one job group into the layers of the
extraction job.  No code inside ``chug_spark`` is involved.

Operator → layer map (plan node name, plus its description where one node
type serves several layers; see ``layer_of``):

- ArrowEvalPython → policy; MapInPandas → decode;
- Exchange on ``(doc_id, chunk_id)`` → chunk_shuffle;
- Exchange on ``doc_id``, a ``collect_list`` aggregate, Window, or a Sort
  on ``doc_id`` → reassembly;
- InMemoryTableScan → persist;
- the write command into ``spans``/``errors`` → write, into any other path
  (staging, lineage) → checkpoint;
- the parquet file scan → scan; the ``size(spans) > 0`` gate → prepare.

Spark 4 compresses event logs with zstd by default and this environment
has no zstd reader, so the traced session logs uncompressed.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def layer_of(node: str, desc: str) -> str | None:
    """Layer of one physical-plan node, or None for glue operators."""
    if node == "ArrowEvalPython":
        return "policy"
    if node == "MapInPandas":
        return "decode"
    if node == "Exchange":
        if "chunk_id" in desc:
            return "chunk_shuffle"
        if desc.startswith("Exchange hashpartitioning(doc_id"):
            return "reassembly"
        return None
    if node in ("ObjectHashAggregate", "HashAggregate", "SortAggregate"):
        return "reassembly" if "collect_list" in desc else None
    if node == "Window" or (node == "Sort" and "doc_id" in desc):
        return "reassembly"
    if node == "InMemoryTableScan":
        return "persist"
    if node.startswith("Execute InsertIntoHadoopFsRelationCommand"):
        path = write_path(desc)
        if path.endswith("/spans") or path.endswith("/errors"):
            return "write"
        return "checkpoint"
    if node.startswith("Scan parquet"):
        return "scan"
    if node == "Filter" and "size(spans" in desc:
        return "prepare"
    return None


def write_path(desc: str) -> str:
    """Target path of an ``Execute InsertIntoHadoopFsRelationCommand`` node."""
    m = re.match(r"Execute InsertIntoHadoopFsRelationCommand (\S+?),", desc)
    return m.group(1) if m else ""


def _num(v) -> float:
    """Accumulator update: an int, or a decimal string for average metrics."""
    return v if isinstance(v, (int, float)) else float(v)


def log_files(log_dir: str) -> list[str]:
    """Event files of the one application logged under ``log_dir``, in
    order: a rolling log is a directory of ``events_<n>_<app>`` files."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p) and not os.path.basename(p).startswith("."))


def read_events(paths):
    for path in paths:
        if path.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {path}: log with "
                             "spark.eventLog.compress=false")
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


class EventLog:
    """Jobs, tasks and operator metrics of one application, indexed by job
    group."""

    def __init__(self, events):
        self.jobs = {}          # job id -> dict(group, start, end, stages, exec)
        self.tasks = []         # dict(stage, run_ms, cpu_ns, gc_ms, spill, peak, accs)
        self.acc_meta = {}      # accumulator id -> (node, desc, metric, type)
        self.acc_value = {}     # accumulator id -> summed value
        self.exec_accs = {}     # SQL execution id -> accumulator ids of its plans
        self.exec_span = {}     # SQL execution id -> [start ms, end ms]
        self.exec_writes = {}   # SQL execution id -> written paths
        self.stage_rdds = {}    # stage id -> ids of the persisted RDDs it touched
        self.block_bytes = {}   # RDD id -> {block id: memory+disk bytes}
        for e in events:
            self._add(e)

    def _add(self, e):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"], "end": None,
                "stages": list(e["Stage IDs"]),
                "exec": int(exec_id) if exec_id is not None else None,
            }
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            accs = set()
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    accs.add(a["ID"])
                    self.acc_value[a["ID"]] = self.acc_value.get(a["ID"], 0) + _num(a["Update"])
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "peak": m.get("Peak Execution Memory", 0),
                "accs": accs,
            })
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_rdds[info["Stage ID"]] = {
                r["RDD ID"] for r in info.get("RDD Info", [])
                if r["Storage Level"].get("Use Memory") or r["Storage Level"].get("Use Disk")
            }
        elif ev == "SparkListenerBlockUpdated":
            b = e["Block Updated Info"]
            m = re.match(r"rdd_(\d+)_\d+$", b["Block ID"])
            if m:
                blocks = self.block_bytes.setdefault(int(m.group(1)), {})
                size = b.get("Memory Size", 0) + b.get("Disk Size", 0)
                blocks[b["Block ID"]] = max(blocks.get(b["Block ID"], 0), size)
        elif ev in (SQL_START, SQL_AQE):
            xid = e["executionId"]
            accs = self.exec_accs.setdefault(xid, set())
            self._walk(e["sparkPlanInfo"], xid, accs)
            if ev == SQL_START:
                self.exec_span[xid] = [e["time"], None]
        elif ev == SQL_END:
            if e["executionId"] in self.exec_span:
                self.exec_span[e["executionId"]][1] = e["time"]
        elif ev == DRIVER_ACCUM:
            for acc_id, value in e["accumUpdates"]:
                self.acc_value[acc_id] = self.acc_value.get(acc_id, 0) + _num(value)

    def _walk(self, node, xid, accs):
        name, desc = node["nodeName"], node.get("simpleString", "")
        if name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            self.exec_writes.setdefault(xid, set()).add(write_path(desc))
        for m in node.get("metrics", []):
            self.acc_meta[m["accumulatorId"]] = (name, desc, m["name"], m["metricType"])
            accs.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._walk(child, xid, accs)

    # ------------------------------------------------------------------ group

    def group(self, group_id: str) -> "Group":
        jobs = {j: v for j, v in self.jobs.items() if v["group"] == group_id}
        return Group(self, jobs)


class Group:
    """Everything the jobs of one job group did."""

    def __init__(self, log: EventLog, jobs: dict):
        self.log = log
        self.jobs = jobs
        self.execs = {v["exec"] for v in jobs.values() if v["exec"] is not None}
        stages = {s for v in jobs.values() for s in v["stages"]}
        self.tasks = [t for t in log.tasks if t["stage"] in stages]
        self.stages = {t["stage"] for t in self.tasks}
        self.accs = set().union(*(log.exec_accs.get(x, set()) for x in self.execs)) \
            if self.execs else set()

    def metric(self, layer: str, name: str, node_filter=None) -> float:
        """Sum of one SQL metric over the group's nodes of ``layer``; timings
        in seconds, sizes in bytes."""
        total = 0.0
        for acc in self.accs:
            node, desc, metric, mtype = self.log.acc_meta[acc]
            if metric != name or layer_of(node, desc) != layer:
                continue
            if node_filter is not None and not node_filter(desc):
                continue
            v = self.log.acc_value.get(acc, 0)
            total += v / 1e9 if mtype == "nsTiming" else v / 1e3 if mtype == "timing" else v
        return total

    def layer_tasks(self, layer: str) -> list:
        """Tasks that updated a metric of a ``layer`` node."""
        accs = {a for a in self.accs if layer_of(*self.log.acc_meta[a][:2]) == layer}
        return [t for t in self.tasks if t["accs"] & accs]

    def busy_s(self) -> float:
        """Length of the union of the group's job intervals."""
        spans = sorted((v["start"], v["end"]) for v in self.jobs.values() if v["end"])
        total, cur_s, cur_e = 0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total / 1e3

    def exec_wall_s(self, pred) -> float:
        """Summed wall of the group's SQL executions whose written paths
        satisfy ``pred``."""
        total = 0
        for x in self.execs:
            start, end = self.log.exec_span.get(x, (None, None))
            if start is not None and end is not None and pred(self.log.exec_writes.get(x, set())):
                total += end - start
        return total / 1e3

    def cached_bytes(self) -> int:
        """Bytes of the persisted RDDs the group's stages touched (needs
        ``spark.eventLog.logBlockUpdates.enabled``)."""
        rdds = set().union(*(self.log.stage_rdds.get(s, set()) for s in self.stages))
        return sum(sum(self.log.block_bytes.get(r, {}).values()) for r in rdds)


def skew(values) -> float:
    """max / median of task run times (1.0 = perfectly even)."""
    values = [v for v in values if v > 0]
    if not values:
        return 0.0
    med = statistics.median(values)
    return max(values) / med if med else 0.0


def engine_metrics(g: Group, wall_s: float, cores: int) -> dict:
    run_s = sum(t["run_ms"] for t in g.tasks) / 1e3
    return {
        "driver.jobs": len(g.jobs),
        "driver.stages": len(g.stages),
        "driver.gap_s": wall_s - g.busy_s(),
        "executor.run_s": run_s,
        "executor.cpu_s": sum(t["cpu_ns"] for t in g.tasks) / 1e9,
        "executor.gc_s": sum(t["gc_ms"] for t in g.tasks) / 1e3,
        "executor.util": run_s / (wall_s * cores) if wall_s else 0.0,
        "executor.peak_mem_mb": max((t["peak"] for t in g.tasks), default=0) / 2**20,
        "executor.spill_bytes": sum(t["spill"] for t in g.tasks),
    }


def operator_metrics(g: Group) -> dict:
    """Per-layer operator metrics of the job as users run it."""
    py = {
        "py_run_s": "time to run Python workers",
        "py_start_s": "time to start Python workers",
        "bytes_to_py": "data sent to Python workers",
        "bytes_from_py": "data returned from Python workers",
    }
    out = {"prepare.rows": g.metric("prepare", "number of output rows"),
           "policy.rows": g.metric("policy", "number of output rows")}
    for layer in ("policy", "decode"):
        for key, name in py.items():
            out[f"{layer}.{key}"] = g.metric(layer, name)
    out.update({
        "chunk_shuffle.records": g.metric("chunk_shuffle", "shuffle records written"),
        "chunk_shuffle.bytes": g.metric("chunk_shuffle", "shuffle bytes written"),
        "chunk_shuffle.write_s": g.metric("chunk_shuffle", "shuffle write time"),
        "chunk_shuffle.fetch_wait_s": g.metric("chunk_shuffle", "fetch wait time"),
        "decode.rows_out": g.metric("decode", "number of output rows"),
        "decode.task_skew": skew(t["run_ms"] for t in g.layer_tasks("decode")),
        "persist.bytes": g.cached_bytes(),
        "reassembly.records": g.metric("reassembly", "shuffle records written"),
        "reassembly.bytes": g.metric("reassembly", "shuffle bytes written"),
        "reassembly.task_s": sum(t["run_ms"] for t in g.layer_tasks("reassembly")) / 1e3,
        "reassembly.spill_bytes": g.metric("reassembly", "spill size"),
        "write.rows": g.metric("write", "number of output rows"),
        "write.bytes": g.metric("write", "written output"),
        "write.files": g.metric("write", "number of written files"),
        "write.commit_s": g.metric("write", "task commit time")
        + g.metric("write", "job commit time"),
    })
    return out


def scan_metrics(g: Group) -> dict:
    """Rows, bytes and task time of a group's parquet scans."""
    return {
        "rows": g.metric("scan", "number of output rows"),
        "bytes": g.metric("scan", "size of files read"),
        "task_s": sum(t["run_ms"] for t in g.tasks) / 1e3,
    }
