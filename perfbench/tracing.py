"""In-memory tracing for the benchmark's Spark worker.

Everything here is installed from the benchmark's own code; the program
under test is not edited (``worker.py`` wraps the program's public
functions to open the spans):

- ``Tracer`` keeps spans (name, start, end, parent, trace id, py4j
  trips) in memory and writes them out once, when the run ends.
- ``Py4jCounter`` wraps py4j's ``GatewayClient.send_command`` so every
  driver-to-JVM round trip is counted.
- ``stage_counters`` reads Spark's status store for a range of job ids:
  jobs, stages, tasks, executor CPU and run time, input, shuffle and
  spill bytes.
- ``plan_rows`` reads row counts from the executed physical plan.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Py4jCounter:
    """Counts py4j commands sent by this process while installed."""

    def __init__(self) -> None:
        self.trips = 0

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        original = GatewayClient.send_command
        counter = self

        @functools.wraps(original)
        def send_command(self, *args, **kwargs):
            counter.trips += 1
            return original(self, *args, **kwargs)

        GatewayClient.send_command = send_command


class Tracer:
    """Spans in memory. A span opened while another is open becomes its
    child; ``trace_id`` groups the spans of one job or one query."""

    def __init__(self, py4j: Py4jCounter | None = None) -> None:
        self.py4j = py4j
        self.active = False
        self.trace_id = ""
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _trips(self) -> int:
        return self.py4j.trips if self.py4j else 0

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {
            "name": name,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "trips0": self._trips(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j_trips"] = self._trips() - rec.pop("trips0")

    def totals(self, trace_id: str) -> dict[str, dict[str, float]]:
        """Summed duration and py4j trips per span name in one trace."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"s": 0.0, "py4j_trips": 0, "calls": 0}
        )
        for s in self.spans:
            if s["trace"] == trace_id and "end" in s:
                t = out[s["name"]]
                t["s"] += s["end"] - s["start"]
                t["py4j_trips"] += s["py4j_trips"]
                t["calls"] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


STAGE_FIELDS = ("jobs", "stages", "tasks", "cpu_s", "run_s",
                "input_bytes", "input_records", "shuffle_bytes", "spill_bytes")


def next_job_id(spark) -> int:
    """The id Spark gives its next job (``DAGScheduler.nextJobId``; py4j
    returns the AtomicInteger as an int). Job ids are sequential, so the
    jobs of one closed-loop unit of work are the ids between two reads,
    including jobs a streaming query runs on its own thread."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def stage_counters(spark, first_job: int, end_job: int) -> dict[str, float]:
    """Spark's own counters for jobs ``first_job`` .. ``end_job - 1``.

    Reads ``statusStore().stageData`` through py4j; the five-argument
    form is the Spark 3.4+/4.x signature. On another signature the
    stage fields stay 0 and only job counts are reported."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - older Spark: counters may lag
        pass
    tracker = sc.statusTracker()
    stage_ids = set()
    for jid in range(first_job, end_job):
        info = tracker.getJobInfo(jid)
        if info is not None:
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
    store = jsc.statusStore()
    for sid in sorted(stage_ids):
        try:
            attempts = store.stageData(sid, False, None, False, None)
        except Exception:  # noqa: BLE001 - version guard, see docstring
            continue
        it = attempts.iterator()
        while it.hasNext():
            d = it.next()
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            out["cpu_s"] += d.executorCpuTime() / 1e9
            out["run_s"] += d.executorRunTime() / 1e3
            out["input_bytes"] += d.inputBytes()
            out["input_records"] += d.inputRecords()
            out["shuffle_bytes"] += d.shuffleReadBytes() + d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return out


def _children(node):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.finalPhysicalPlan()]
    if name.endswith("QueryStage") or name.startswith("ReusedExchange"):
        try:
            return [node.plan()]
        except Exception:  # noqa: BLE001 - ReusedExchange has child()
            return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_rows(df) -> list[tuple[str, int]]:
    """(node name, numOutputRows) for every node of ``df``'s executed
    plan that has the metric, in pre-order. Call after an action on
    ``df`` has run, so the metrics are filled in."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        if metrics.contains("numOutputRows"):
            out.append((node.nodeName(), metrics.apply("numOutputRows").value()))
        stack.extend(reversed(_children(node)))
    return out
