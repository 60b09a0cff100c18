"""Per-layer instruments for the traced run.

Everything here observes the program from outside: spans are taken
around the benchmark's own calls into each layer, stage metrics come
from the JVM status store (live with the UI disabled), and streaming
progress comes from a listener the benchmark registers. None of it is
installed on an untraced run.
"""

from __future__ import annotations

import contextlib
import json
import time

from pyspark.sql.streaming import StreamingQueryListener

# Status-store stage fields summed per query, and the name each is
# reported under with its scale to seconds or MB.
_STAGE_SUMS = {
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_mb", 1e-6),
    "shuffleReadBytes": ("shuffle_read_mb", 1e-6),
    "diskBytesSpilled": ("spill_mb", 1e-6),
    "inputBytes": ("input_mb", 1e-6),
}

# Micro-batch phases reported per drain, from StreamingQueryProgress.durationMs.
_PHASES = {
    "addBatch": "add_batch_s",
    "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
    "latestOffset": "latest_offset_s",
}


class Spans:
    """In-memory span log: one record per call into a layer, with its
    parent span and the id of the query it belongs to."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, qid: str | None = None):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._open[-1] if self._open else None, "qid": qid}
        self.records.append(rec)
        self._open.append(len(self.records) - 1)
        try:
            yield
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)


class StageLedger:
    """Per-query stage totals from the JVM ``AppStatusStore``.

    A query's stages are those with ids above the mark taken before it
    started; the listener bus is drained first so the store holds every
    finished stage."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            sc._jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )
        self._mark = self._max_stage_id()

    def _stages(self) -> list[dict]:
        self._jsc.listenerBus().waitUntilEmpty()
        seq = self._jsc.statusStore().stageList(
            None, False, False, self._no_quantiles, None
        )
        return json.loads(self._mapper.writeValueAsString(seq))

    def _max_stage_id(self) -> int:
        return max((s["stageId"] for s in self._stages()), default=-1)

    def mark(self) -> None:
        self._mark = self._max_stage_id()

    def since_mark(self) -> dict[str, float]:
        new = [
            s for s in self._stages()
            if s["stageId"] > self._mark and s["status"] != "SKIPPED"
        ]
        out = {"stages": float(len(new)),
               "tasks": float(sum(s["numCompleteTasks"] for s in new))}
        for field, (name, scale) in _STAGE_SUMS.items():
            out[name] = sum(s.get(field) or 0 for s in new) * scale
        out["off_jvm_s"] = out["task_run_s"] - out["task_cpu_s"]
        return out


class DrainListener(StreamingQueryListener):
    """Collects start, progress and termination of every streaming
    query. Events arrive asynchronously on the listener bus; a query's
    counts are read only after its termination event has arrived."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}
        self.terminated: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        self.started[str(event.runId)] = time.perf_counter()

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated[str(event.runId)] = time.perf_counter()

    def collect(self, spark, seen: set[str], timeout_s: float = 30.0) -> tuple[dict, int]:
        """Totals over the drains started since ``seen`` was taken, and
        the number of drains whose termination event never arrived."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        runs = [r for r in list(self.started) if r not in seen]
        deadline = time.perf_counter() + timeout_s
        while any(r not in self.terminated for r in runs) and time.perf_counter() < deadline:
            time.sleep(0.05)
        lost = sum(1 for r in runs if r not in self.terminated)
        out = {"drains": 0.0, "drain_s": 0.0, "batches": 0.0, "empty_batches": 0.0,
               "empty_batch_s": 0.0, "input_rows": 0.0, "state_rows": 0.0,
               "state_mem_mb": 0.0}
        out.update({name: 0.0 for name in _PHASES.values()})
        for r in runs:
            if r not in self.terminated:
                continue
            out["drains"] += 1
            out["drain_s"] += self.terminated[r] - self.started[r]
            batches = self.progress.get(r, [])
            for p in batches:
                dur = p.get("durationMs", {})
                out["batches"] += 1
                out["input_rows"] += p.get("numInputRows", 0)
                if p.get("numInputRows", 0) == 0:
                    out["empty_batches"] += 1
                    out["empty_batch_s"] += dur.get("triggerExecution", 0) / 1000
                for key, name in _PHASES.items():
                    out[name] += dur.get(key, 0) / 1000
            if batches:
                last_ops = batches[-1].get("stateOperators", [])
                out["state_rows"] += sum(op.get("numRowsTotal", 0) for op in last_ops)
                out["state_mem_mb"] += sum(op.get("memoryUsedBytes", 0) for op in last_ops) / 1e6
        return out, lost
