"""Per-layer probes for the traced run, all from outside the package.

Each probe reads one of Spark's public hooks around a call into a
layer:

- ``SparkContext.statusTracker``: jobs, stages and tasks per item, via
  a job group set around the construct and action halves (a stream's
  jobs carry its run id as their group);
- ``QueryPlanningTracker``: Catalyst analysis, optimization and
  planning time of the item's DataFrame;
- JVM MXBeans and ``CodegenMetrics`` through py4j: JIT and GC time and
  Janino compiles;
- the event log, read back with
  ``sources.resource_log.task_metrics_from_event_log``: executor run,
  CPU and GC time, shuffle, spill, source bytes and the SQL metrics of
  the Python-worker operators;
- ``StreamingQuery.recentProgress``: per-micro-batch duration parts and
  state-store size;
- ``getPersistentRDDs`` and the RDD storage info: what an item left
  cached.

Spans (workload > item > construct/action, stream > micro-batch) are
kept in memory and written out with the per-item records at the end.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from datetime import datetime


def jvm_counters(spark) -> dict:
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "gc_ms": gc,
        "codegen_n": hist.getCount(),
        "codegen_mean_ms": hist.getSnapshot().getMean(),
    }


def progress_records(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        if hasattr(p, "json"):
            p = json.loads(p.json)
        elif isinstance(p, str):
            p = json.loads(p)
        out.append(p)
    return out


def cache_state(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    nbytes = sum(
        int(i.memSize()) + int(i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo()
    )
    return n, nbytes


def plan_ms(df) -> float:
    """Analysis + optimization + planning of ``df`` (forces the
    executed plan so every phase has run)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.items: list[dict] = []
        self._next = 0
        self.root = self.open(workload, None)

    # --- spans -------------------------------------------------------
    def open(self, name: str, parent: int | None, **attrs) -> int:
        self._next += 1
        self.spans.append({"id": self._next, "parent": parent, "name": name,
                           "start": time.time(), "end": None, **attrs})
        return self._next

    def close(self, span_id: int, **attrs) -> None:
        s = self.spans[span_id - 1]
        s["end"] = time.time()
        s.update(attrs)

    # --- one traced item ---------------------------------------------
    def run_item(self, item, ctx, pass_no: int):
        """Run ``item`` once under every probe; return its wall (s)."""
        sid = self.open(item.name, self.root, pass_no=pass_no)
        rec = {"item": item.name, "pass": pass_no, "span": sid}
        j0 = jvm_counters(self.spark)
        t0 = time.perf_counter()
        cid = self.open("construct", sid)
        self.sc.setJobGroup(f"pb{sid}c", item.name)
        built = item.build(ctx)
        if not item.stream:
            built.schema
        t1 = time.perf_counter()
        self.close(cid)
        rec["plan_ms"] = 0.0 if item.stream else plan_ms(built)
        t2 = time.perf_counter()
        aid = self.open("action", sid)
        self.sc.setJobGroup(f"pb{sid}a", item.name)
        res = item.act(ctx, built, False)
        t3 = time.perf_counter()
        self.close(aid)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        j1 = jvm_counters(self.spark)
        rec["construct_s"] = t1 - t0
        rec["action_s"] = t3 - t2
        rec["construct_jobs"] = list(self.st.getJobIdsForGroup(f"pb{sid}c"))
        jobs = rec["construct_jobs"] + list(self.st.getJobIdsForGroup(f"pb{sid}a"))
        if item.stream:
            q = res[0]
            jobs += list(self.st.getJobIdsForGroup(str(q.runId)))
            rec["progress"] = progress_records(q)
            for p in rec["progress"]:
                start = datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")
                ).timestamp()
                ms = p.get("durationMs", {}).get("triggerExecution", 0)
                b = self.open("micro-batch", aid, batch_id=p.get("batchId"))
                self.spans[b - 1].update(start=start, end=start + ms / 1e3)
        stages, tasks = set(), 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = self.st.getStageInfo(s)
                if si is not None and s not in stages:
                    stages.add(s)
                    tasks += si.numCompletedTasks
        rec["jobs"] = len(jobs)
        rec["stages"] = sorted(stages)
        rec["tasks"] = tasks
        rec["jit_ms"] = j1["jit_ms"] - j0["jit_ms"]
        rec["gc_ms"] = j1["gc_ms"] - j0["gc_ms"]
        rec["codegen_compiles"] = j1["codegen_n"] - j0["codegen_n"]
        rec["codegen_ms"] = rec["codegen_compiles"] * j1["codegen_mean_ms"]
        rec["cache_rdds"], rec["cache_bytes"] = cache_state(self.spark)
        self.close(sid, wall_s=t3 - t0)
        self.items.append(rec)
        return t3 - t0

    # --- event log ---------------------------------------------------
    def attribute_event_log(self, log_path: str) -> None:
        """Add executor / shuffle / source / Python-worker totals to each
        item record, joining event-log tasks to items by stage id."""
        from anomaly_detection_iiot_spark.sources.resource_log import (
            task_metrics_from_event_log,
        )

        owner = {s: i for i, rec in enumerate(self.items) for s in rec["stages"]}
        tm = task_metrics_from_event_log(self.spark, log_path).toPandas().fillna(0)
        tm = tm[tm.stage_id.isin(owner)]
        per = defaultdict(lambda: defaultdict(float))
        for row in tm.itertuples():
            d = per[owner[row.stage_id]]
            d["run_s"] += row.run_time_ms / 1e3
            d["gc_s"] += row.gc_time_ms / 1e3
            d["shuffle_read_bytes"] += row.shuffle_read_bytes
            d["shuffle_write_bytes"] += row.shuffle_write_bytes
            d["read_bytes"] += row.input_bytes
        # fields the partial schema above does not carry: CPU time,
        # fetch wait, spill, records, and the SQL metrics of the
        # Python-worker operators (accumulator ids from the plan infos)
        py_ids: dict[int, tuple] = {}
        with open(log_path) as fh:
            for line in fh:
                if "SparkListenerSQL" in line and "sparkPlanInfo" in line:
                    _python_metric_ids(json.loads(line)["sparkPlanInfo"], py_ids)
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                e = json.loads(line)
                i = owner.get(e.get("Stage ID"))
                if i is None:
                    continue
                d = per[i]
                m = e.get("Task Metrics") or {}
                d["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                d["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                d["read_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                nodes = defaultdict(dict)  # Python node -> this task's metrics
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    hit = py_ids.get(acc.get("ID"))
                    if hit is not None:
                        key, scale, node = hit
                        nodes[node][key] = float(acc.get("Update", 0) or 0) * scale
                for vals in nodes.values():
                    # Spark times init from the worker's boot stamp. A
                    # reused worker stamps it when it went idle after its
                    # previous task, and Spark drops its then negative
                    # boot time, so its init also counts the idle wait.
                    # Init is exact only where a fresh worker booted.
                    if vals.get("py_boot_s", 0) <= 0:
                        vals.pop("py_init_s", None)
                    for key, v in vals.items():
                        d[key] += v
        for i, rec in enumerate(self.items):
            rec.update(per.get(i, {}))

    def write(self, path: str, extra: dict) -> None:
        self.close(self.root)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans, "items": self.items}, fh,
                      indent=1, default=str)


# SQL metrics of the Python-worker operators (ArrowEvalPython,
# FlatMapGroupsInPandas, ...): display name -> record key
_PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_total_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "number of output rows": "py_rows",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _python_metric_ids(plan: dict, out: dict) -> None:
    """accumulator id -> (record key, scale, node) for every
    Python-worker metric in a plan tree; ``node`` (the node's smallest
    accumulator id) groups the metrics of one operator."""
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        metrics = plan.get("metrics", [])
        node = min((m["accumulatorId"] for m in metrics), default=None)
        for m in metrics:
            key = _PY_METRICS.get(m.get("name"))
            if key is not None:
                scale = _TIME_SCALE.get(m.get("metricType"), 1.0)
                out[m["accumulatorId"]] = (key, scale, node)
    for child in plan.get("children", []):
        _python_metric_ids(child, out)
