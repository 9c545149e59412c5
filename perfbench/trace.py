"""Traced run: one span per layer call, Spark counters per span.

``Tracer.layer(name)`` opens a span, tags every Spark job started inside it
with the job group ``perfbench:<name>``, and closes the span after the
caller has materialised the layer's output. Spans stay in memory until
``write`` dumps them as JSON. ``layer_metrics`` then reads, per job group,
the stage counters of Spark's application status store and the Python-node
timings of its SQL status store; both are kept with the UI disabled.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

LAYERS = (
    "events_spans",
    "har_source",
    "har_cookies",
    "parse",
    "cascade_exact",
    "cascade_rank",
    "tiling",
    "stats",
    "pages",
)
# Per-layer times are published as shares of the traced run, with the two
# pipeline totals in seconds: a layer a workload does not call then reads
# 0 as a share, and no time in the result is a constant. The report lines
# print every layer's absolute seconds.
GENERIC = (
    "wall_share",
    "idle_share",
    "shuffle_write_mb",
    "spill_mb",
    "jobs",
    "rows_out",
    "failed_tasks",
)
RATIOS = (
    "pipeline.traced_wall_s",
    "pipeline.busy_s",
    "pipeline.recompute_ratio",
    "cascade_exact.python_share",
    "har_source.python_share",
    "parse.live_ratio",
    "cascade_exact.fallback_share",
    "cascade_rank.edge_yield",
    "tiling.rollup_ratio",
    "stats.doubling_passes",
    "har_source.quarantine_share",
)
PER_LAYER = tuple(f"{layer}.{m}" for layer in LAYERS for m in GENERIC) + RATIOS


def unit(metric: str) -> str:
    m = metric.rsplit(".", 1)[1]
    if m.endswith("_s"):
        return "s"
    if m.endswith("_mb"):
        return "MB"
    if m in ("jobs", "rows_out", "failed_tasks", "doubling_passes"):
        return "count"
    return "ratio"


_GROUP = "perfbench:"
_PYTHON_TIME = "time to run Python workers"
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TIME_RE = re.compile(r"([0-9][0-9,]*\.?[0-9]*) (ms|s|m|h)\b")


class Tracer:
    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(_GROUP + name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(_GROUP + (parent or "untraced"), parent or "untraced")
            self.spans.append(
                {"trace": self.trace_id, "name": name, "start": start, "end": end,
                 "parent": parent}
            )

    def layer(self, name: str, build):
        """Run ``build()`` inside the layer's span and checkpoint its result
        there, so the span covers the layer's work and nothing after it."""
        with self.span(name):
            df = build().localCheckpoint()
        self.rows[name] = self.rows.get(name, 0) + df.count()
        return df

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)

    def layer_metrics(self, cores: int) -> tuple[dict[str, float], dict[str, dict]]:
        """(per-layer metrics, absolute seconds per layer for the report)."""
        store = self.sc._jsc.sc().statusStore()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        tracker = self.sc.statusTracker()
        defaults = [getattr(store, f"stageData$default${k}")() for k in (2, 3, 4, 5)]
        walls: dict[str, float] = {}
        for s in self.spans:
            if s["name"] in LAYERS:
                walls[s["name"]] = walls.get(s["name"], 0.0) + s["end"] - s["start"]
        traced = sum(walls.values())
        out: dict[str, float] = {}
        seconds: dict[str, dict] = {}
        for name, wall in walls.items():
            jobs = set(tracker.getJobIdsForGroup(_GROUP + name))
            busy = shuffle = fetch = spill = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    attempts = store.stageData(sid, *defaults)
                    for k in range(attempts.size()):
                        sd = attempts.apply(k)
                        busy += sd.executorRunTime()
                        shuffle += sd.shuffleWriteBytes()
                        fetch += sd.shuffleFetchWaitTime()
                        spill += sd.diskBytesSpilled()
                        failed += sd.numFailedTasks()
            python = _python_seconds(sql, jobs)
            seconds[name] = {
                "wall_s": wall,
                "busy_s": busy / 1e3,
                "fetch_wait_s": fetch / 1e3,
                "python_s": python,
            }
            out.update(
                {
                    f"{name}.wall_share": wall / traced,
                    f"{name}.idle_share": 1.0 - (busy / 1e3) / (wall * cores),
                    f"{name}.shuffle_write_mb": shuffle / 1e6,
                    f"{name}.spill_mb": spill / 1e6,
                    f"{name}.jobs": float(len(jobs)),
                    f"{name}.rows_out": float(self.rows.get(name, 0)),
                    f"{name}.failed_tasks": float(failed),
                }
            )
            if name in ("cascade_exact", "har_source"):
                out[f"{name}.python_share"] = python / (busy / 1e3) if busy else 0.0
        out["pipeline.traced_wall_s"] = traced
        out["pipeline.busy_s"] = sum(v["busy_s"] for v in seconds.values())
        return out, seconds


def _parse_seconds(value: str) -> float:
    """A SQL timing metric as Spark formats it: either ``"12 ms"`` or
    ``"total (min, med, max ...)\\n8.6 s (...)"``; the total is first."""
    line = value.strip().splitlines()[-1]
    m = _TIME_RE.search(line)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _python_seconds(sql, jobs: set[int]) -> float:
    """Summed 'time to run Python workers' of every Python node in the SQL
    executions whose jobs belong to ``jobs``."""
    total = 0.0
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        ejobs = e.jobs().keys().iterator()
        ids = set()
        while ejobs.hasNext():
            ids.add(int(ejobs.next()))
        if not ids & jobs:
            continue
        metrics = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            ms = nodes.apply(k).metrics()
            for q in range(ms.size()):
                m = ms.apply(q)
                if m.name() == _PYTHON_TIME:
                    v = metrics.get(m.accumulatorId())
                    if v.isDefined():
                        total += _parse_seconds(v.get())
    return total
