"""Layer measurement from outside the program.

- :class:`Tracer` keeps spans (name, start, end, parent, op) in memory
  around the benchmark's calls into each layer and writes them at exit.
- :class:`SparkProbe` reads Spark's own status store (jobs, stages,
  cached RDDs) through one JSON serialization per read.
- :func:`instrument_actions` wraps DataFrame actions (traced runs only)
  so every action inside the program becomes a span and contributes its
  ``QueryPlanningTracker`` phase times.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """In-memory span recorder; disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, ops) -> dict[str, float]:
        """Per span name, over the spans of ``ops``: total
        duration minus the time its direct children cover (children of
        one span never overlap here: the program is single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] in ops:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


class SparkProbe:
    """Status-store reader for one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._double0 = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has applied every event."""
        self._ssc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> int:
        """The id the next job will get (job ids are sequential)."""
        self.drain()
        return max((j["jobId"] for j in self._json(self._store.jobsList(None))), default=-1) + 1

    def jobs_from(self, first_id: int) -> list[dict]:
        """Jobs with id >= ``first_id``, oldest first."""
        self.drain()
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] >= first_id]
        return sorted(jobs, key=lambda j: j["jobId"])

    def stages(self, stage_ids) -> list[dict]:
        want = set(stage_ids)
        allst = self._json(self._store.stageList(None, False, False, self._double0, None))
        return [s for s in allst if s["stageId"] in want and s["status"] == "COMPLETE"]

    def cached(self) -> tuple[int, int]:
        """(persisted RDDs with data, their memory bytes)."""
        rdds = self._json(self._store.rddList(True))
        return len(rdds), sum(r.get("memoryUsed", 0) for r in rdds)


def job_counts(jobs: list[dict]) -> dict[str, int]:
    return {
        "jobs": len(jobs),
        "stages": sum(j["numCompletedStages"] for j in jobs),
        "tasks": sum(j["numCompletedTasks"] for j in jobs),
    }


def job_wall_s(jobs: list[dict]) -> float:
    """Union of [submission, completion] intervals, in seconds."""
    iv = sorted(
        (j["submissionTime"], j["completionTime"])
        for j in jobs
        if j.get("submissionTime") is not None and j.get("completionTime") is not None
    )
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def stage_totals(stages: list[dict]) -> dict[str, float]:
    return {
        "exec_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "input_bytes": sum(s["inputBytes"] for s in stages),
        "shuffle_read_bytes": sum(
            s["shuffleLocalBytesRead"] + s["shuffleRemoteBytesRead"] for s in stages
        ),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
    }


class PlanningTimes:
    """Accumulates QueryPlanningTracker phase times, in ms."""

    def __init__(self):
        self.ms = dict.fromkeys(PHASES, 0.0)

    def add(self, jdf) -> None:
        phases = jdf.queryExecution().tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.ms[p] += opt.get().durationMs()


@contextmanager
def instrument_actions(tracer: Tracer, planning: PlanningTimes):
    """Wrap ``collect``/``count``/``toPandas`` on DataFrames for the
    duration: each call becomes a ``spark.<action>`` span and adds its
    planning phase times.  Restores the originals on exit."""
    from pyspark.sql.classic.dataframe import DataFrame

    originals = {}

    def wrap(name):
        fn = getattr(DataFrame, name)
        originals[name] = fn

        def traced(self, *a, **kw):
            with tracer.span(f"spark.{name}"):
                out = fn(self, *a, **kw)
            planning.add(self._jdf)
            return out

        setattr(DataFrame, name, traced)

    for name in ("collect", "count", "toPandas"):
        wrap(name)
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(DataFrame, name, fn)
