"""Per-layer metrics read from Spark's own status store.

The UI is disabled, but the status store behind it is still filled. Each
op call runs under its own job group; jobs that the library starts from
its own thread pools carry no group and are assigned by submission time
instead. Jobs that the benchmark's answer checks start run under
``CHECK_GROUP`` and count nowhere. Everything is read once, after the
last op and its checks, as JSON through Spark's Jackson mapper, so the
status store is not touched while ops are timed.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass

CHECK_GROUP = "perfbench.check"

# Module names are the library's own (path under peregrine_spark/); a job
# counts for the module whose line triggered it (the job's call site), and
# for "other" when that module is not listed.
MODULES = [
    "plans.superstep", "operators.iterative", "operators.skew",
    "operators.graph", "operators.csr", "operators.motifs", "operators.labels",
    "broadcast", "bench", "other",
]

# The default 1000 retained jobs/stages evicts the start of a traced run.
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}


def module_of(job_name: str) -> str:
    """'collect at …/peregrine_spark/operators/iterative.py:119' →
    'operators.iterative'. localCheckpoint and parquet jobs report
    '<unknown>:0' and belong to the superstep driver; broadcast exchange
    builds report a CompletableFuture frame."""
    site = job_name.split(" at ", 1)[-1]
    if "CompletableFuture" in site:
        return "broadcast"
    if site.startswith("<unknown>"):
        return "plans.superstep"
    path = site.rsplit(":", 1)[0]
    if "/peregrine_spark/" in path:
        return path.split("/peregrine_spark/", 1)[1].removesuffix(".py").replace("/", ".")
    if "/perfbench/" in path or path.startswith("perfbench/"):
        return "bench"
    return "other"


@dataclass
class Call:
    op: str
    group: str
    t0_ms: float
    rdd0: int
    t1_ms: float = 0.0
    rdd1: int = 0


class Collector:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        jvm = spark._jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala, "MODULE$"))
        self.calls: list[Call] = []
        # time spent in begin/end, i.e. inside the timed spans
        self.overhead_s = 0.0

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def begin(self, op: str) -> Call:
        t = time.perf_counter()
        group = f"perfbench:{len(self.calls)}:{op}"
        self.sc.setJobGroup(group, op)
        call = Call(op, group, 0.0, rdd0=self.jsc.newRddId())
        self.calls.append(call)
        self.overhead_s += time.perf_counter() - t
        call.t0_ms = time.time() * 1000.0
        return call

    def end(self, call: Call) -> None:
        """The op returned: later jobs belong to the answer checks."""
        call.t1_ms = time.time() * 1000.0
        t = time.perf_counter()
        call.rdd1 = self.jsc.newRddId()
        self.sc.setJobGroup(CHECK_GROUP, "answer check")
        self.overhead_s += time.perf_counter() - t

    # ------------------------------------------------------------ harvest --
    def harvest(self) -> tuple[list[dict], dict[str, list]]:
        """Per op call metrics, and {module: [jobs, busy_s]} over the run.

        Call after the run released every result it knows of: an RDD an
        op created that is still persisted then counts as leaked."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jobs = self._json(store.jobsList(None))
        persistent = [int(i) for i in self._json(self.sc._jsc.getPersistentRDDs().keySet())]
        stage_cache: dict[int, dict | None] = {}

        def stage(sid: int) -> dict | None:
            if sid not in stage_cache:
                try:
                    stage_cache[sid] = self._json(store.lastStageAttempt(sid))
                except Exception:  # evicted or never submitted
                    stage_cache[sid] = None
            return stage_cache[sid]

        per_call = []
        mods: dict[str, list] = {m: [0, 0.0] for m in MODULES}
        for c in self.calls:
            mine = [
                j for j in jobs
                if j.get("jobGroup") == c.group
                or (
                    j.get("jobGroup") is None
                    and c.t0_ms <= (j.get("submissionTime") or 0) <= c.t1_ms
                )
            ]
            done = {}
            for j in mine:
                for sid in j["stageIds"]:
                    s = stage(sid)
                    if s is not None and s["status"] == "COMPLETE":
                        done[sid] = s
            spans = sorted(
                (max(j["submissionTime"], c.t0_ms), min(j["completionTime"], c.t1_ms))
                for j in mine
                if j.get("submissionTime") and j.get("completionTime")
            )
            per_call.append({
                "jobs": len(mine),
                "tasks": sum(s["numTasks"] for s in done.values()),
                "cpu_s": sum(s["executorCpuTime"] for s in done.values()) / 1e9,
                "shuffle_mb": sum(
                    s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in done.values()
                ) / 1e6,
                "spill_mb": sum(
                    s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in done.values()
                ) / 1e6,
                "driver_s": max(0.0, c.t1_ms - c.t0_ms - _union_ms(spans)) / 1000.0,
                "task_skew": self._skew(store, done),
                "leaked": sum(1 for i in persistent if c.rdd0 <= i < c.rdd1),
            })
            for j in mine:
                m = mods.get(module_of(j["name"]), mods["other"])
                m[0] += 1
                if j.get("submissionTime") and j.get("completionTime"):
                    m[1] += (j["completionTime"] - j["submissionTime"]) / 1000.0
        return per_call, mods

    def _skew(self, store, done: dict) -> float:
        """max/median task run time in the call's heaviest stage
        (``taskSummary`` fails over py4j, so from ``taskList``)."""
        if not done:
            return 1.0
        s = max(done.values(), key=lambda s: s["executorRunTime"])
        tasks = self._json(store.taskList(s["stageId"], s["attemptId"], 1_000_000))
        runs = [
            t["taskMetrics"]["executorRunTime"]
            for t in tasks
            if t.get("status") == "SUCCESS" and t.get("taskMetrics")
        ]
        if not runs:
            return 1.0
        return max(runs) / max(statistics.median(runs), 1.0)


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in spans:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total
