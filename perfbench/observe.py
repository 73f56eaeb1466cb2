"""What the benchmark reads from the engine between operations.

Nothing here runs inside a timed region.  Spark's status store (stages and
jobs) is read through py4j, which works with the UI disabled; streaming
progress arrives through a ``StreamingQueryListener``.  Spans are kept in
memory and written out when the run ends.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class StatusReader:
    """New stages, jobs and SQL executions from the SparkContext's status
    stores."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._last_stage = -1
        self._last_job = -1
        self._last_execution = -1
        self.drain()

    def drain(self) -> tuple[list[dict], list[dict], list[int]]:
        """Stages and jobs finished since the last call, oldest first, and
        the ids of the SQL executions started since then.

        Waits for the listener bus first: the stores are fed asynchronously,
        so an action can return before its completion events land.
        """
        self._sc.listenerBus().waitUntilEmpty()
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = sorted(
            (s for s in stages if s["stageId"] > self._last_stage and s["status"] != "ACTIVE"),
            key=lambda s: s["stageId"],
        )
        jobs = sorted(
            (j for j in jobs if j["jobId"] > self._last_job and j["status"] != "RUNNING"),
            key=lambda j: j["jobId"],
        )
        if stages:
            self._last_stage = stages[-1]["stageId"]
        if jobs:
            self._last_job = jobs[-1]["jobId"]
        jobs = [{"id": j["jobId"], "submitted": j["submissionTime"] / 1000.0} for j in jobs]
        return [_stage_fields(s) for s in stages], jobs, self._new_executions()

    def _new_executions(self) -> list[int]:
        execs = self._sql.executionsList()  # ordered by execution id
        new = []
        for i in reversed(range(execs.size())):
            eid = execs.apply(i).executionId()
            if eid <= self._last_execution:
                break
            new.append(eid)
        self._last_execution = max(new, default=self._last_execution)
        return new[::-1]

    def exchange_data_size(self, execution_id: int) -> int:
        """UnsafeRow bytes entering the shuffle exchanges ("data size") of
        one SQL execution: the raw size of what the shuffle stored."""
        values = self._sql.executionMetrics(execution_id)
        nodes = self._sql.planGraph(execution_id).allNodes()
        total = 0
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() != "Exchange":
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "data size":
                    v = values.get(m.accumulatorId())
                    total += _parse_size(v.get()) if v.isDefined() else 0
        return total


def _stage_fields(s: dict) -> dict:
    return {
        "id": s["stageId"],
        "submitted": (s.get("submissionTime") or 0) / 1000.0,
        "completed": (s.get("completionTime") or 0) / 1000.0,
        "tasks": s["numTasks"],
        "failed_tasks": s["numFailedTasks"],
        "run_ms": s["executorRunTime"],
        "cpu_ns": s["executorCpuTime"],
        "gc_ms": s["jvmGcTime"],
        "write_bytes": s["shuffleWriteBytes"],
        "write_records": s["shuffleWriteRecords"],
        "write_ns": s["shuffleWriteTime"],
        "read_bytes": s["shuffleReadBytes"],
        "fetch_wait_ms": s["shuffleFetchWaitTime"],
        "spill_mem": s["memoryBytesSpilled"],
        "spill_disk": s["diskBytesSpilled"],
    }


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> int:
    """'total (min, med, max ...)\n45.8 MiB (11.4 MiB, ...)' -> bytes."""
    number, unit = text.split("\n")[-1].split()[:2]
    return int(float(number.replace(",", "")) * _UNITS[unit])


class StreamProbe(StreamingQueryListener):
    """Collects the progress of every micro-batch.

    Most stream queries run in ``spark.newSession()`` clones
    (``streaming/source.py``), whose listener buses are their own, so
    :meth:`attach` also registers the probe on every clone made later.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()  # events arrive on the py4j callback thread
        self._progress: list[dict] = []

    def attach(self, spark: SparkSession) -> None:
        probe = self
        spark.streams.addListener(probe)
        original = SparkSession.newSession

        def new_session(self: SparkSession) -> SparkSession:
            clone = original(self)
            clone.streams.addListener(probe)
            return clone

        SparkSession.newSession = new_session

    def take(self) -> list[dict]:
        with self._lock:
            out, self._progress = self._progress, []
        return out

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        batch = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start": _iso_epoch(p.timestamp),
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_rows_updated": sum(o.numRowsUpdated for o in ops),
            "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
        }
        with self._lock:
            self._progress.append(batch)


def _iso_epoch(ts: str) -> float:
    """'2026-10-17T03:00:40.123Z' -> epoch seconds."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    """``VmHWM`` of the driver JVM (the py4j gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def count_exchanges(plan_text: str) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in an executed-plan tree."""
    shuffles = len(re.findall(r"(?<![A-Za-z])Exchange ", plan_text))
    broadcasts = len(re.findall(r"BroadcastExchange ", plan_text))
    return shuffles, broadcasts


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans; times are epoch seconds, as the status store's are."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(
        self, name: str, layer: str, start: float, end: float, parent: int | None, attrs: dict | None = None
    ) -> Span:
        span = Span(len(self.spans), parent, name, layer, start, end, attrs or {})
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None) -> Iterator[Span]:
        s = self.add(name, layer, time.time(), 0.0, parent)
        try:
            yield s
        finally:
            s.end = time.time()

    def place(self, name: str, layer: str, start: float, end: float, under: list[Span], attrs: dict) -> Span:
        """Add an engine-reported span under the innermost of ``under`` that
        was open when it started (the call that started it)."""
        parent = None
        for s in under:
            if s.start <= start <= s.end and (parent is None or s.start >= parent.start):
                parent = s
        return self.add(name, layer, start, end, parent.id if parent else None, attrs)

    def self_time_by_layer(self) -> dict[str, float]:
        """Wall time per layer.  Each moment of a root span goes to the
        deepest span open at that moment (of two at the same depth, the one
        that started later), so stages that run at the same time count once
        and the layers add up to the roots' wall time."""
        depth: dict[int, int] = {}
        trees: dict[int, list[Span]] = {}
        root_of: dict[int, int] = {}
        for s in self.spans:  # a parent is added before its children
            depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
            root_of[s.id] = s.id if s.parent is None else root_of[s.parent]
            trees.setdefault(root_of[s.id], []).append(s)
        out: dict[str, float] = {}
        for root_id, spans in trees.items():
            root = self.spans[root_id]
            clipped = [(max(s.start, root.start), min(s.end, root.end), s) for s in spans]
            clipped = [c for c in clipped if c[1] > c[0]]
            cuts = sorted({t for lo, hi, _ in clipped for t in (lo, hi)})
            for a, b in zip(cuts, cuts[1:]):
                owner = max(
                    (s for lo, hi, s in clipped if lo <= a and b <= hi),
                    key=lambda s: (depth[s.id], s.start),
                )
                out[owner.layer] = out.get(owner.layer, 0.0) + (b - a)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)

