"""Spans and Spark counters for the traced mode.

Spans are recorded around each call the benchmark makes into a layer of
the repository: name, layer, start, end, parent and run id (the pass
number).  They stay in memory and are written out at exit.  After each
traced pass, Spark's own status stores are read over py4j and every job
and SQL execution of that pass is attributed to the innermost span that
was open when it was submitted:

- ``AppStatusStore`` (jobs and stage attempts): stages, tasks, executor
  run/CPU/GC time, shuffle bytes, spill, input bytes;
- the SQL status store: executions, and the Python-worker metrics of
  Arrow/pandas nodes (bytes sent and returned, time in the workers).

Reading the stores happens between passes, so it adds nothing to a
pass's wall time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {"data sent to Python workers": "arrow.bytes_to_python",
               "data returned from Python workers": "arrow.bytes_from_python",
               "time to run Python workers": "arrow.python_s"}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric ('3.1 KiB', '735 ms', or the
    'total (min, med, max ...)' form, whose total leads the second
    line)."""
    line = text.strip().splitlines()[-1]
    num, unit = (line.split() + [""])[:2]
    num = float(num.replace(",", ""))
    if unit in _SIZE:
        return num * _SIZE[unit]
    return num * _TIME.get(unit, 1.0)


class Tracer:
    """Span recorder; inert (records nothing) when ``enabled`` is false."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id: int | None = None
        self._stack: list[dict] = []
        self._jobs_seen: set[int] = set()
        self._execs_seen = 0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "run": self.run_id, "start": time.time(), "end": None,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "counters": {}}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _owner(self, t: float, run: int) -> dict | None:
        best = None
        for s in self.spans:
            if s["run"] == run and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def skip_existing(self) -> None:
        """Mark every job and SQL execution so far as seen, so the next
        :meth:`collect` attributes only what runs after this call."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        self._jobs_seen.update(jobs.apply(i).jobId() for i in range(jobs.size()))
        self._execs_seen = (self.spark._jsparkSession.sharedState()
                            .statusStore().executionsList().size())

    def collect(self, run: int) -> None:
        """Attribute the jobs and SQL executions submitted since the last
        call to the spans of pass ``run``."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid in self._jobs_seen:
                continue
            self._jobs_seen.add(jid)
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            owner = self._owner(sub.get().getTime() / 1000.0, run)
            if owner is None:
                continue
            c = owner["counters"]
            _add(c, "spark.jobs", 1)
            ids = job.stageIds()
            for k in range(ids.size()):
                self._add_stage(store, ids.apply(k), c)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(self._execs_seen, execs.size()):
            ex = execs.apply(i)
            owner = self._owner(ex.submissionTime() / 1000.0, run)
            if owner is None:
                continue
            c = owner["counters"]
            _add(c, "spark.sql_execs", 1)
            values = sql.executionMetrics(ex.executionId())
            seen = set()
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen or not values.contains(acc):
                    continue
                seen.add(acc)
                _add(c, key, parse_metric(values.get(acc).get()))
        self._execs_seen = execs.size()

    @staticmethod
    def _add_stage(store, stage_id: int, c: dict) -> None:
        try:
            st = store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt
            return
        if st.status().toString() == "SKIPPED":
            return
        _add(c, "spark.stages", 1)
        _add(c, "spark.tasks", st.numCompleteTasks() + st.numFailedTasks())
        _add(c, "spark.failed_tasks", st.numFailedTasks())
        _add(c, "spark.executor_run_s", st.executorRunTime() / 1e3)
        _add(c, "spark.executor_cpu_s", st.executorCpuTime() / 1e9)
        _add(c, "spark.gc_s", st.jvmGcTime() / 1e3)
        _add(c, "spark.shuffle_read_bytes", st.shuffleReadBytes())
        _add(c, "spark.shuffle_write_bytes", st.shuffleWriteBytes())
        _add(c, "spark.spill_bytes",
             st.memoryBytesSpilled() + st.diskBytesSpilled())
        _add(c, "io.bytes_read", st.inputBytes())

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _add(c: dict, key: str, v: float) -> None:
    c[key] = c.get(key, 0) + v
