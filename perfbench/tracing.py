"""Spans and per-layer counters for the traced run.

Everything here observes the program from outside: it times the calls the
harness makes into each layer and reads Spark's own bookkeeping after each
phase of a gate:

- jobs, stages and task metrics from the application status store;
- SQL metrics of the Python exec nodes (ArrowEvalPython, MapInArrow,
  MapInPandas, FlatMapGroupsInPandas[WithState] and the like) from the SQL
  status store: every plan node that reports "data sent to Python workers";
- streaming trigger phases and state-operator sizes from a
  ``StreamingQueryListener``, attached to the gate that started the stream;
- pinned-block bytes from the block manager's storage status.

A phase (``def`` or ``act``) owns every job, stage and SQL execution Spark
creates while it runs, whatever thread creates it (streams run their
micro-batches on their own thread).  The closed loop runs one gate at a
time, so the id windows cannot interleave.
"""

from __future__ import annotations

import re
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_ROWS = "number of output rows"

# counters summed over the stages a phase ran
STAGE_COUNTERS = (
    "tasks",
    "stages_skipped",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_records",
    "spill_bytes",
    "input_bytes",
    "input_records",
)
PYTHON_COUNTERS = ("python_rows", "python_bytes_sent", "python_bytes_received")
STREAM_COUNTERS = (
    "triggers",
    "input_rows",
    "trigger_ms",
    "add_batch_ms",
    "get_batch_ms",
    "query_planning_ms",
    "wal_commit_ms",
    "state_rows",
    "state_mem_bytes",
)
_DURATION_KEYS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)")
_LISTENER_WAIT_S = 30.0
# plan-node names of the Python exec operators; a node counts only if it
# also reports the "data sent to Python workers" metric
_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: a plain count ("1,234") or the
    total of a size metric ("total (min, med, max ...)\\n1.5 KiB (...)").
    Size metrics arrive rounded to one decimal of their unit."""
    m = _SIZE_RE.search(text)
    if m:
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    return float(text.strip().replace(",", ""))


class _StreamListener(StreamingQueryListener):
    """Collects progress events; ``owner`` maps a run id to the gate span
    that started it (onQueryStarted is posted while that gate runs)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.current: str | None = None
        self.owner: dict[str, str] = {}
        self.progress: dict[str, list] = {}
        self.ended: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.owner[str(event.runId)] = self.current

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(p)

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.ended.add(str(event.runId))


class Tracer:
    """In-memory spans plus the counters read at span boundaries.

    A span is ``{"id", "parent", "name", "gate", "start", "end"}``; the spans
    of one gate share its ``gate`` id.  The counters of each phase land on
    the gate's ``def`` and ``act`` spans under ``"counters"``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = sc._jvm
        self.spans: list[dict] = []
        self._next_job = self._next_stage = self._next_exec = 0
        self.listener = _StreamListener()
        self.sync()
        spark.streams.addListener(self.listener)

    # ---- spans ------------------------------------------------------
    def open(self, name: str, parent: dict | None, gate: str | None = None) -> dict:
        span = {
            "id": len(self.spans),
            "parent": None if parent is None else parent["id"],
            "name": name,
            "gate": gate if gate is not None else (parent or {}).get("gate"),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        return span

    def close(self, span: dict) -> dict:
        span["end"] = time.perf_counter()
        return span

    def set_stream_owner(self, gate: str | None) -> None:
        with self.listener.lock:
            self.listener.current = gate

    # ---- counters ---------------------------------------------------
    def sync(self) -> None:
        """Skip everything Spark ran since the last phase (an untraced pass)."""
        self._drain()
        self._stage_ids(self._new_jobs())
        self._next_exec = self._max_exec() + 1
        with self.listener.lock:
            for run in [r for r, g in self.listener.owner.items() if g is None]:
                del self.listener.owner[run]
                self.listener.progress.pop(run, None)
                self.listener.ended.discard(run)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_exec(self) -> int:
        n = self._sql.executionsCount()
        if not n:
            return -1
        last = self._sql.executionsList(int(n) - 1, 1)
        return last.apply(0).executionId() if last.size() else -1

    def _new_jobs(self) -> list:
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < self._next_job:
                break
            out.append(j)
        if out:
            self._next_job = out[0].jobId() + 1
        return out

    def _new_executions(self) -> list:
        n = int(self._sql.executionsCount())
        out = []
        hi = n
        while hi > 0:
            lo = max(0, hi - 64)
            page = self._sql.executionsList(lo, hi - lo)
            ids = [page.apply(i).executionId() for i in range(page.size())]
            fresh = [e for e in ids if e >= self._next_exec]
            out.extend(fresh)
            if len(fresh) < len(ids):
                break
            hi = lo
        if out:
            self._next_exec = max(out) + 1
        return out

    def _python_counters(self, exec_ids: list) -> dict:
        c = dict.fromkeys(PYTHON_COUNTERS, 0.0)
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        for eid in exec_ids:
            nodes = self._sql.planGraph(eid).allNodes()
            wanted: dict[int, str] = {}
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not _PY_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                named = {ms.apply(q).name(): ms.apply(q).accumulatorId() for q in range(ms.size())}
                if PY_SENT not in named:
                    continue
                for metric, key in (
                    (PY_SENT, "python_bytes_sent"),
                    (PY_RECEIVED, "python_bytes_received"),
                    (PY_ROWS, "python_rows"),
                ):
                    if metric in named:
                        wanted[int(named[metric])] = key
            if not wanted:
                continue
            values = conv.asJava(self._sql.executionMetrics(eid))
            for acc, text in values.items():
                if int(acc) in wanted:
                    c[wanted[int(acc)]] += parse_metric(text)
        return c

    def _stage_ids(self, jobs: list) -> tuple[set, list]:
        """All stage ids of the jobs, and those first seen in this phase (a
        job may list a stage an earlier phase ran and now skips)."""
        ids = set()
        for j in jobs:
            s = j.stageIds()
            ids.update(s.apply(i) for i in range(s.size()))
        fresh = sorted(i for i in ids if i >= self._next_stage)
        if fresh:
            self._next_stage = fresh[-1] + 1
        return ids, fresh

    def phase_counters(self) -> dict:
        """Counters of everything Spark ran since the previous call."""
        self._drain()
        jobs = self._new_jobs()
        c = dict.fromkeys(STAGE_COUNTERS, 0.0)
        c["jobs"] = len(jobs)
        c["stages_skipped"] = sum(j.numSkippedStages() for j in jobs)
        stage_ids, fresh = self._stage_ids(jobs)
        c["stages"] = len(stage_ids)
        for sid in fresh:
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if str(s.status()) == "SKIPPED":
                continue
            c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            c["tasks_failed"] += s.numFailedTasks()
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["shuffle_records"] += s.shuffleWriteRecords()
            c["spill_bytes"] += s.diskBytesSpilled()
            c["input_bytes"] += s.inputBytes()
            c["input_records"] += s.inputRecords()
        c.update(self._python_counters(self._new_executions()))
        return c

    def pinned_bytes(self) -> float:
        return float(sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()))

    def stream_counters(self, gate: str) -> dict:
        """Trigger phases of every stream the gate started; waits until the
        listener has seen each of those streams terminate."""
        lst = self.listener
        deadline = time.monotonic() + _LISTENER_WAIT_S
        while True:
            with lst.lock:
                runs = [r for r, g in lst.owner.items() if g == gate]
                if all(r in lst.ended for r in runs) or time.monotonic() > deadline:
                    events = {r: lst.progress.pop(r, []) for r in runs}
                    for r in runs:
                        lst.owner.pop(r, None)
                        lst.ended.discard(r)
                    break
            time.sleep(0.01)
        c = dict.fromkeys(STREAM_COUNTERS, 0.0)
        for progress in events.values():
            for p in progress:
                c["triggers"] += 1
                c["input_rows"] += p.numInputRows
                d = p.durationMs or {}
                for key, name in _DURATION_KEYS.items():
                    c[key] += d.get(name, 0)
            # state size is a level, not a flow: take each stream's last trigger
            for op in (progress[-1].stateOperators or []) if progress else []:
                c["state_rows"] += op.numRowsTotal
                c["state_mem_bytes"] += op.memoryUsedBytes
        return c

    def remove(self) -> None:
        self.spark.streams.removeListener(self.listener)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the part its children cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
    return out
