"""Layer spans and the per-layer numbers read back from Spark's event log.

A span is opened around each call into a layer's public function. It sets
the Spark job group to the layer name, so every job, stage and task the call
starts is tagged with the layer. Spans are kept in memory; after the session
stops, the event log is read once and each layer gets its wall time, task
CPU/run/GC time, job and task counts, shuffle and spill volume, the part of
its span in which no task ran, and the skew of its largest stage.

The log's SQL plans also give the rows each plan node put out. Per layer,
the rows out of its join nodes are summed by join kind, so an operator's
candidate volume is read from the engine's own counters.

``NullTracer`` has the same span interface and does nothing, so the untraced
passes run the very same code with no job groups set.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager


class NullTracer:
    """Untraced passes: no job groups and no event log."""

    @contextmanager
    def span(self, layer: str):
        yield

    def begin(self, layer: str) -> None:
        pass

    def end(self) -> None:
        pass

    def jobs_started(self, layer: str) -> int:
        return 0


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, layer: str | None) -> None:
        if layer is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(layer, layer)

    def begin(self, layer: str) -> None:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"id": len(self.spans), "layer": layer, "parent": parent,
             "start": time.time(), "end": None}
        )
        self._stack.append(len(self.spans) - 1)
        self._set_group(layer)

    def end(self) -> None:
        sid = self._stack.pop()
        self.spans[sid]["end"] = time.time()
        self._set_group(self.spans[self._stack[-1]]["layer"] if self._stack else None)

    @contextmanager
    def span(self, layer: str):
        self.begin(layer)
        try:
            yield
        finally:
            self.end()

    def jobs_started(self, layer: str) -> int:
        """Jobs Spark has started so far under this layer's job group."""
        return len(self._sc.statusTracker().getJobIdsForGroup(layer))

    def count_jobs(self, group: str, fn) -> int:
        """Run ``fn`` under its own job group, outside any span; return the
        number of jobs it started."""
        self._set_group(group)
        try:
            fn()
        finally:
            self._set_group(self.spans[self._stack[-1]]["layer"] if self._stack else None)
        return self.jobs_started(group)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Tasks, jobs and plan-node output rows per job group from the
    (single) application log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str | None] = {}
    stage_rdds: dict[int, list[str]] = {}
    jobs: dict[str | None, int] = {}
    tasks: list[dict] = []
    # accumulator id -> (plan node name, its one-line description) for the
    # "number of output rows" metric of every SQL plan node, initial and
    # re-planned by AQE; and the rows each task added to them
    row_metric: dict[int, tuple[str, str]] = {}
    row_updates: list[tuple[int, int, int]] = []  # (stage, accumulator, rows)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_row_metrics(ev["sparkPlanInfo"], row_metric)
            elif kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[g] = jobs.get(g, 0) + 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_rdds[sid] = [
                    f'{r.get("Name", "")} {r.get("Scope", "")}' for r in info.get("RDD Info", [])
                ]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                ti = ev["Task Info"]
                row_updates += [
                    (ev["Stage ID"], a["ID"], int(a["Update"]))
                    for a in ti.get("Accumulables", [])
                    if a.get("Name") == "number of output rows"
                ]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "launch": ti["Launch Time"] / 1000.0,
                        "finish": ti["Finish Time"] / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    }
                )
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
    # rows out of each plan node, summed over the stages of each job group
    node_rows: dict[str | None, dict[tuple[str, str], int]] = {}
    for sid, acc, rows in row_updates:
        if acc in row_metric:
            mine = node_rows.setdefault(stage_group.get(sid), {})
            mine[row_metric[acc]] = mine.get(row_metric[acc], 0) + rows
    return {"jobs": jobs, "tasks": tasks, "stage_rdds": stage_rdds,
            "stage_group": stage_group, "node_rows": node_rows}


def _plan_row_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            out[m["accumulatorId"]] = (node["nodeName"], node.get("simpleString", ""))
    for child in node.get("children", []):
        _plan_row_metrics(child, out)


# join kinds by plan node: an equi-join on keys, and a nested loop or
# cartesian product (every pair of rows)
EQUI_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
PAIR_JOINS = ("BroadcastNestedLoopJoin", "CartesianProduct")


def join_rows(log: dict, layer: str, kinds: tuple[str, ...], key: str | None = None) -> int:
    """Rows out of ``layer``'s join nodes of the given kinds; with ``key``,
    only inner joins whose first key column is named ``key``."""
    total = 0
    for (name, desc), rows in log["node_rows"].get(layer, {}).items():
        if name not in kinds:
            continue
        if key is not None and not re.search(rf"\[{re.escape(key)}#\d+", desc):
            continue
        if key is not None and " Inner" not in desc:
            continue
        total += rows
    return total


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(spans: list[dict], log: dict, layers: list[str]) -> dict[str, float]:
    """The generic metrics for each layer in ``layers`` (zero where the
    layer ran nothing in this workload)."""
    every_task = [(t["launch"], t["finish"]) for t in log["tasks"]]
    out: dict[str, float] = {}
    for layer in layers:
        mine = [s for s in spans if s["layer"] == layer]
        tasks = [t for t in log["tasks"] if t["group"] == layer]
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
        skew = 0.0
        if by_stage:
            biggest = max(by_stage.values(), key=sum)
            med = statistics.median(biggest)
            skew = max(biggest) / med if med > 0 else 1.0
        vals = {
            "wall_s": sum(s["end"] - s["start"] for s in mine),
            "task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "task_run_s": sum(t["run_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "jobs": log["jobs"].get(layer, 0),
            "tasks": len(tasks),
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 2**20,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
            "driver_gap_s": sum(
                (s["end"] - s["start"]) - _covered_s(every_task, s["start"], s["end"])
                for s in mine
            ),
            "task_skew": skew,
        }
        out.update({f"{layer}.{k}": v for k, v in vals.items()})
    return out


def scan_stages(log: dict, layer: str) -> int:
    """Stages of ``layer`` that read a parquet file (a fresh table scan)."""
    return sum(
        1
        for sid, g in log["stage_group"].items()
        if g == layer and any("Scan parquet" in r for r in log["stage_rdds"].get(sid, ()))
    )


def top_level_coverage(spans: list[dict], start: float, end: float) -> float:
    """Share of [start, end] inside some top-level span."""
    tops = [(s["start"], s["end"]) for s in spans if s["parent"] is None]
    return _covered_s(tops, start, end) / max(end - start, 1e-9)
