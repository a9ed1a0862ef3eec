"""Layer spans, engine counters and output-tree counters for traced runs.

A span wraps one call from the benchmark into a layer's public function
(``ingest.sample``, ``transform.pre_risk``, ``plans.q5_local_supplier``,
...). Spans live in memory and are written out once, when the run ends.

Engine counts come from Spark itself: every span runs its jobs under a job
group of its own (``SparkContext.setJobGroup``), and once the pass is over
``statusTracker()`` maps each group to its jobs, stages and tasks. Jobs are
charged to the innermost open span, so counts are self counts, like the
self times ``rollup`` computes.

With tracing off ``span`` only yields, so the untraced run pays nothing.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        # seconds spent inside the tracer's own bookkeeping
        self.overhead_s = 0.0
        self._sc = spark.sparkContext
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
        }
        rec["group"] = f"{self.run_id}/{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self._sc.setJobGroup(outer["group"], outer["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            # bookkeeping on both sides of the span happens inside the
            # parent's interval; rollup() takes it out of the parent's self time
            rec["book_s"] = (rec["start"] - t_in) + (time.perf_counter() - rec["end"])
            self.overhead_s += rec["book_s"]

    def resolve_counts(self) -> None:
        """Attach jobs/stages/tasks/tasks_failed to every span.

        Status updates reach the tracker through Spark's asynchronous
        listener bus, so the bus is drained first."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec:
                continue
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    # skipped (reused) stages keep their planned task count
                    # but run nothing
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks, tasks_failed=failed)
        self.overhead_s += time.perf_counter() - t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def rollup(spans: list[dict]) -> None:
    """Set ``self_s`` on every span: its duration minus the part of that
    interval its child spans (and their bookkeeping) cover."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"] + s["book_s"]
    for s in spans:
        s["self_s"] = s["end"] - s["start"] - covered[s["id"]]


def tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``, skipping the
    ``_SUCCESS`` markers and ``.crc`` side files Spark writes."""
    nbytes = nfiles = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            nbytes += os.path.getsize(os.path.join(dirpath, f))
            nfiles += 1
    return nbytes, nfiles


def final_plan_exchanges(spark, span_names: set[str]) -> dict[str, int]:
    """Exchange nodes in the final adaptive plans of the SQL executions run
    inside the named spans (a span's name is its jobs' description).

    Read from Spark's SQL status store, so the measured run is not
    re-executed; counted like ``tools/explain_audit.py`` does (every
    ``Exchange`` in the plan above its ``Initial Plan`` section)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    counts: dict[str, int] = defaultdict(int)
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.description() not in span_names:
            continue
        plan = ex.physicalPlanDescription()
        # formatted explain: the node tree comes before the per-node details
        tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
        counts[ex.description()] += tree.count("Exchange")
    return dict(counts)
