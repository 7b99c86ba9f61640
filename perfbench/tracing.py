"""Traced mode: spans around the calls into each layer, plus the per-layer
counters read from outside the program.

Sources, all external to the operators themselves:

* spans recorded by the benchmark around ``QUERIES[name](...)`` (the
  operators layer), the executed-plan call (Catalyst) and the noop write
  (execution), and around the wrapped public ``plans.gram_index``
  functions that callers resolve at call time;
* job, stage and task metrics from the Spark UI REST API, attributed to
  an op by the job ids it started;
* a ``StreamingQueryListener`` for micro-batch progress and state size.

Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0

# the per-layer metrics a traced run reports, with their units.  Each is
# summed over one traced steady pass; the run reports the median pass.
# exec.* cover every job an op started (its eager build jobs too), and
# exec.busy_share is exec.task_run_s over (op wall time x cores).
# catalyst.plan_s plans the returned DataFrame on its own; the noop write
# then plans its own command over the same logical plan, so exec.run_s
# includes that second planning, and trace.overhead includes the extra
# one.  gram_index.compact_s reads 0 on every shipped workload: no op
# reachable through QUERIES passes max_deltas, the only path to
# compact_index in streaming/ingest.py, so compaction is not measured.
# gram_index.written_mb / legs are what sits under the index root at the
# end of the pass; disk.left_mb is what the pass left under the run's
# private dirs; trace.overhead is the median traced pass over the median
# plain pass of the same run.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_share": "1",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "gram_index.append_s": "s",
    "gram_index.compact_s": "s",
    "gram_index.written_mb": "MB",
    "gram_index.legs": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.rows_per_s": "1/s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "disk.left_mb": "MB",
    "trace.overhead": "1",
}

# public gram-index functions wrapped in traced runs; only call sites that
# import them at call time (streaming/ingest.py) see the wrappers
GRAM_INDEX_WRAPPED = {
    "append_index_delta": "gram_index.append",
    "compact_index": "gram_index.compact",
}


class Tracer:
    """In-memory span recorder.  The benchmark's main thread opens nested
    spans; wrapped functions that run on other threads (foreachBatch
    bodies) record leaf spans under whatever span the main thread has
    open."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[tuple[int, str | None]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, *, push: bool = True):
        """Record a span under the innermost open span.  Only the main
        thread pushes; spans from other threads are leaves."""
        parent, parent_op = self._stack[-1] if self._stack else (None, None)
        sid = next(self._ids)
        op = op if op is not None else parent_op
        if push:
            self._stack.append((sid, op))
        start = time.time()
        try:
            yield
        finally:
            if push:
                self._stack.pop()
            self.spans.append({
                "id": sid, "name": name, "op": op, "parent": parent,
                "start": start, "end": time.time(),
            })

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self._stack:  # outside a traced pass
                return original(*args, **kwargs)
            with self.span(name, push=False):
                return original(*args, **kwargs)

        setattr(module, attr, traced)

    def sum_s(self, name: str, since: int = 0) -> float:
        return sum(s["end"] - s["start"] for s in self.spans[since:]
                   if s["name"] == name)

    def write(self, path: str, header: dict) -> None:
        """Write every span with its self time: its duration minus the part
        of it that its children cover (children clipped to the parent)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: s["id"]):
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append({**s, "self": (s["end"] - s["start"]) - covered})
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**header, "spans": out}, fh)


class ProgressLog(StreamingQueryListener):
    """Collects every micro-batch progress report (listener thread)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._events.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list:
        with self._lock:
            events, self._events = self._events, []
        return events


def streaming_metrics(progress: list) -> dict[str, float]:
    dur = lambda p, k: p.durationMs.get(k, 0) / 1000.0  # noqa: E731
    last = {}
    for p in progress:
        last[p.runId] = p
    rows = sum(p.numInputRows for p in progress)
    trigger_s = sum(dur(p, "triggerExecution") for p in progress)
    return {
        "streaming.batches": len(progress),
        "streaming.input_rows": rows,
        "streaming.rows_per_s": rows / trigger_s if trigger_s else 0.0,
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in progress),
        "streaming.query_planning_s": sum(
            dur(p, "queryPlanning") for p in progress),
        "streaming.commit_s": sum(
            dur(p, "walCommit") + dur(p, "commitOffsets") for p in progress),
        "streaming.state_rows": sum(
            s.numRowsTotal for p in last.values() for s in p.stateOperators),
        "streaming.state_mb": sum(
            s.memoryUsedBytes for p in last.values()
            for s in p.stateOperators) / MB,
    }


class SparkStatus:
    """Job ids from the scheduler and stage metrics from the UI REST API."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._api = (f"{self._sc.uiWebUrl}/api/v1/applications/"
                     f"{self._sc.applicationId}")

    def next_job_id(self) -> int:
        # DAGScheduler.nextJobId is an AtomicInteger; py4j hands it over as
        # its int value
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    def settle(self) -> None:
        """Wait until every posted scheduler and streaming event has reached
        its listeners (the REST store and the ProgressLog)."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.load(r)

    def exec_metrics(self, job_ranges: list[tuple[int, int]]) -> dict:
        """Sum stage metrics over the jobs whose ids fall in the ranges."""
        wanted = {j for lo, hi in job_ranges for j in range(lo, hi)}
        stage_ids = set()
        for job in self._get("jobs"):
            if job["jobId"] in wanted:
                stage_ids.update(job["stageIds"])
        m = dict.fromkeys(
            ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
             "shuffle_read_mb", "spill_mb", "input_mb", "input_rows"), 0.0)
        for st in self._get("stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            m["run_s"] += st["executorRunTime"] / 1e3
            m["cpu_s"] += st["executorCpuTime"] / 1e9
            m["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            m["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            m["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
            m["spill_mb"] += (st["memoryBytesSpilled"]
                              + st["diskBytesSpilled"]) / MB
            m["input_mb"] += st["inputBytes"] / MB
            m["input_rows"] += st["inputRecords"]
        m["jobs"] = len(wanted)
        return m


def index_on_disk(index_dir: str) -> tuple[float, int]:
    """(MB, published legs) under a gram-index root: base tables, delta
    legs and generations each carry a ``_graft_meta.json``."""
    total, legs = 0, 0
    for dirpath, _, files in os.walk(index_dir):
        legs += "_graft_meta.json" in files
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / MB, legs
