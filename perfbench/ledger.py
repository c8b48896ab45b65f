"""Per-call Spark ledger for the traced run.

Each timed call runs under its own Spark job group.  After the call, and
outside its timed span, :meth:`Tracer.end_call` reads Spark's in-process
status stores for that group:

- the core ``AppStatusStore`` (``sc._jsc.sc().statusStore()``) gives each
  job's submission and completion time, its stages, and each stage's task
  run time, task CPU time and shuffle bytes;
- the SQL store (``sharedState().statusStore()``) gives the executed plan
  graph of every SQL execution the call started, whose nodes are counted.

Spark retains only a bounded number of jobs and executions, which is why
the stores are read after every call rather than once at the end.  Spans
(name, start, end, parent round span, run id) are kept in memory and
written out as JSON by :meth:`Tracer.write`.
"""

from __future__ import annotations

import json
import time
from typing import Any

# per-call stats reported by name; the remaining ledger keys feed the
# workload totals only
CALL_STATS = ("s", "jobs", "driver_s", "task_wait_s", "scans", "shuffle_mb")
TOTAL_STATS = ("jobs", "tasks", "job_s", "driver_s", "task_cpu_s", "task_wait_s",
               "scans", "exchanges", "shuffle_mb", "collect_rows")


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    covered, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        covered += end - max(start, reach)
        reach = end
    return covered


def metric_value(node, values, metric: str) -> float:
    """A plan node's SQL metric in one execution, parsed from the store's
    formatted string ("60,000", "5.2 MiB"); 0 when never updated."""
    metrics = node.metrics()
    for i in range(metrics.size()):
        if metrics.apply(i).name() == metric:
            value = values.get(metrics.apply(i).accumulatorId())
            if value.isDefined():
                return float(value.get().split()[0].replace(",", ""))
    return 0.0


class RowCounter:
    """Counts rows that ``collect`` and ``toPandas`` hand to the driver, by
    wrapping both methods of the session's DataFrame class while
    installed.  Every driver-side ``first``/``head``/``take`` goes through
    ``collect``."""

    def __init__(self, frame_class: type) -> None:
        self.frame_class = frame_class
        self.rows = 0
        self._saved: dict[str, Any] = {}

    def install(self) -> None:
        for name in ("collect", "toPandas"):
            original = getattr(self.frame_class, name)
            self._saved[name] = self.frame_class.__dict__.get(name)

            def counted(df, *args, __original=original, **kwargs):
                out = __original(df, *args, **kwargs)
                self.rows += len(out)
                return out

            setattr(self.frame_class, name, counted)

    def uninstall(self) -> None:
        for name, own in self._saved.items():
            if own is None:  # inherited: drop the wrapper to expose it again
                delattr(self.frame_class, name)
            else:
                setattr(self.frame_class, name, own)
        self._saved.clear()


class Tracer:
    """Tags each call with a job group and reads its ledger afterwards."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        # the concrete class (PySpark 4 subclasses pyspark.sql.DataFrame)
        self.rows = RowCounter(type(spark.range(0)))
        self.spans: list[dict[str, Any]] = []
        self._n_groups = 0
        self.errors: list[str] = []  # ledger entries the stores could not give
        self._call: dict[str, Any] | None = None

    # -- spans ----------------------------------------------------------------
    def begin_round(self, index: int) -> int:
        self.spans.append({"id": len(self.spans), "name": f"round{index}",
                           "start": time.time(), "end": None, "parent": None,
                           "run": self.run_id})
        return len(self.spans) - 1

    def end_round(self, span_id: int) -> None:
        self.spans[span_id]["end"] = time.time()

    def begin_call(self, name: str, round_span: int) -> None:
        """Set the call's job group and note where the SQL executions
        stand.  Runs before the call's timed span starts."""
        self._n_groups += 1
        group = f"{self.run_id}/{self._n_groups}/{name}"
        self.sc.setJobGroup(group, name)
        self._call = {"group": group, "name": name, "parent": round_span,
                      "last_exec": self._last_execution_id(),
                      "rows0": self.rows.rows}

    def end_call(self, start: float, end: float) -> dict[str, float]:
        """Close the call's span (epoch seconds ``start``..``end``) and
        return its ledger.  Runs after the timed span has ended."""
        call, self._call = self._call, None
        self.sc._jsc.clearJobGroup()
        # the stores are filled by the listener bus: let it catch up
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        ledger = self._jobs_ledger(call["group"], start, end)
        ledger.update(self._plans_ledger(call["last_exec"]))
        ledger["collect_rows"] = self.rows.rows - call["rows0"]
        ledger["s"] = end - start
        self.spans.append({"id": len(self.spans), "name": call["name"],
                           "start": start, "end": end, "parent": call["parent"],
                           "run": self.run_id, "ledger": ledger})
        return ledger

    def write(self, path: str, extra: dict[str, Any]) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, fh, indent=1)

    # -- status stores --------------------------------------------------------
    def _jobs_ledger(self, group: str, start: float, end: float) -> dict[str, float]:
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        intervals, stage_ids = [], set()
        tasks = 0
        for job_id in job_ids:
            job = self.store.job(job_id)
            submitted, completed = job.submissionTime(), job.completionTime()
            if submitted.isDefined() and completed.isDefined():
                intervals.append((submitted.get().getTime() / 1e3,
                                  completed.get().getTime() / 1e3))
            else:
                self.errors.append(f"{group}: job {job_id} has no interval")
            tasks += job.numCompletedTasks()
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        run_ms = cpu_ns = shuffle = 0
        for stage_id in stage_ids:
            stage = self.store.lastStageAttempt(stage_id)
            run_ms += stage.executorRunTime()
            cpu_ns += stage.executorCpuTime()
            shuffle += stage.shuffleWriteBytes()
        # job intervals clipped to the call's span (ms clock resolution)
        clipped = [(max(a, start), min(b, end)) for a, b in intervals]
        in_jobs = interval_union([(a, b) for a, b in clipped if b > a])
        return {
            "jobs": len(job_ids),
            "tasks": tasks,
            "job_s": sum(b - a for a, b in intervals),
            "driver_s": max(0.0, (end - start) - in_jobs),
            "task_cpu_s": cpu_ns / 1e9,
            "task_wait_s": max(0.0, run_ms / 1e3 - cpu_ns / 1e9),
            "shuffle_mb": shuffle / 1e6,
        }

    def _last_execution_id(self) -> int:
        count = self.sql_store.executionsCount()
        if count == 0:
            return -1
        return self.sql_store.executionsList(count - 1, 1).apply(0).executionId()

    def _plans_ledger(self, last_exec: int) -> dict[str, int]:
        """Count plan-graph nodes of every SQL execution started since
        ``last_exec``: parquet scans that read files and shuffle Exchanges
        that wrote records.  A node that did no work in this execution
        (a cached subtree below an InMemoryTableScan, a reused shuffle)
        still appears in the graph but reports 0 and is not counted."""
        scans = exchanges = 0
        for exec_id in range(last_exec + 1, self._last_execution_id() + 1):
            if not self.sql_store.execution(exec_id).isDefined():
                self.errors.append(f"SQL execution {exec_id} is not in the store")
                continue
            values = self.sql_store.executionMetrics(exec_id)
            nodes = self.sql_store.planGraph(exec_id).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                if name.startswith("Scan parquet"):
                    scans += metric_value(node, values, "number of files read") > 0
                elif name == "Exchange":
                    exchanges += metric_value(node, values, "shuffle records written") > 0
        return {"scans": scans, "exchanges": exchanges}
