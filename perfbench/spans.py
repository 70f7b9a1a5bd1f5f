"""Spans and Spark counters for the traced run.

A span records (name, start, end, parent, run id) in memory; ``dump``
writes them as JSON when the run ends. With tracing on, each span also
tags the Spark jobs it launches with its own job group, so jobs, tasks,
failed tasks, shuffle bytes and busy time can be attributed to the span
from ``statusTracker()`` and the application status store. With tracing
off a span is two clock reads.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

HIST_SPANS = ("hist.", "weights.hists")


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_index = -1

    def new_pass(self, index: int) -> None:
        self.pass_index = index

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run": self.run_id, "pass": self.pass_index,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "group": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            rec["group"] = f"{self.run_id}:{sid}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self.spans[self._stack[-1]]["group"] if self._stack else None
                if parent:
                    self.sc.setJobGroup(parent, self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, pass_index: int) -> dict[str, float]:
        """Summed wall seconds per span name within one pass."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] == pass_index and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def spark_counters(self, pass_index: int) -> dict[str, float]:
        """Jobs, tasks, failed tasks, shuffle bytes and the wall time
        covered by jobs, over the spans of one pass. ``hist_shuffle_bytes``
        counts the shuffles of histogram spans; ``scans`` counts
        ``MapInPandas`` operators (the ROOT reader's scan) in the physical
        plans of the pass's SQL executions."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tasks = failed = shuffle = hist_shuffle = 0
        intervals = []
        job_ids = set()
        for s in self.spans:
            if s["pass"] != pass_index or not s["group"]:
                continue
            for jid in st.getJobIdsForGroup(s["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                job_ids.add(jid)
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage skipped: its shuffle was reused
                        continue
                    tasks += sd.numTasks()
                    failed += sd.numFailedTasks()
                    shuffle += sd.shuffleWriteBytes()
                    if s["name"].startswith(HIST_SPANS):
                        hist_shuffle += sd.shuffleWriteBytes()
        return {
            "jobs": jobs, "tasks": tasks, "failed": failed, "shuffle_bytes": shuffle,
            "hist_shuffle_bytes": hist_shuffle, "job_busy_s": _union_length(intervals),
            "scans": self._count_in_plans(job_ids, "MapInPandas"),
        }

    def _count_in_plans(self, job_ids: set, operator: str) -> int:
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        it = sql_store.executionsList().iterator()
        count = 0
        pattern = re.compile(rf"\b{operator} \(\d+\)")
        while it.hasNext():
            ex = it.next()
            ex_jobs = ex.jobs().keySet().iterator()
            mine = False
            while ex_jobs.hasNext():
                if int(ex_jobs.next()) in job_ids:
                    mine = True
            if mine:
                count += len(pattern.findall(_final_tree(ex.physicalPlanDescription())))
        return count

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _final_tree(description: str) -> str:
    """The operator tree of the plan that ran: the final adaptive plan
    when there is one, without the initial plan and the node details."""
    tree = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return tree


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
