"""Spans around the engine's public functions, with Spark counters.

A span records wall time around one call into a layer. Jobs are
attributed by job id: the scheduler hands out ids in submission order,
so the jobs a span launched are exactly the ids allocated between its
start and its end. That also catches jobs submitted from streaming
micro-batch threads, which job groups miss. Counters are read from the
status store after the call, once its listener bus has drained, so
harvesting costs the traced call nothing.

Spans are kept in memory; `Tracer.dump` writes them out at the end.
Only one thread is inside the engine at a time in these workloads
(foreachBatch callbacks run while the caller blocks in the drain), so a
single span stack gives every span its parent.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.readwriter import DataFrameWriter

# (counter, unit) harvested for every span
COUNTERS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("exec_run_s", "s"),
    ("exec_cpu_s", "s"),
)


@dataclass
class Span:
    name: str
    call: int
    parent: int | None
    start: float
    wall0: float  # wall clock at start, for file mtimes
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    children_s: float = 0.0  # time covered by child spans of another layer
    info: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


# (module, attribute, span name): the names the engine's callers
# actually resolve at call time. Lazy calls whose work only runs at a
# later action (ops.text, dedup_exact, dedup_keep_representative,
# NdbTable.lookup) are spanned by the workloads instead, around the
# call plus the action that materializes it.
_FUNCTIONS = (
    ("dbitool_spark.pipeline", "Pipeline.run", "pipeline.run"),
    ("dbitool_spark.pipeline", "project", "pipeline.project"),
    ("dbitool_spark.io.csv_io", "read_csv", "io.read_csv"),
    ("dbitool_spark.io.json_io", "write_ndjson", "io.write_ndjson"),
    ("dbitool_spark.obs", "split_quarantine", "obs.quarantine"),
    ("dbitool_spark.obs", "check_errorsize", "obs.quarantine"),
    ("dbitool_spark.ops.dedup", "minhash_near_dup_pairs", "ops.dedup.minhash"),
    ("dbitool_spark.ops.similarity", "embedding_near_dup_pairs", "ops.similarity.near_dup"),
    ("dbitool_spark.streaming", "stream_upsert_ndb", "streaming.drain"),
    ("dbitool_spark.ndb", "NdbTable.upsert", "ndb.upsert"),
)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self._lock = threading.Lock()
        self._stack: list[int] = []
        self.spans: list[Span] = []
        self.call = -1
        self._jobs: dict[int, dict] = {}

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(name, self.call, parent, time.perf_counter(), time.time(), self.next_job_id())
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            with self._lock:
                s.end = time.perf_counter()
                s.job_hi = self.next_job_id()
                self._stack.pop()
                if s.parent is not None and self.spans[s.parent].layer != s.layer:
                    self.spans[s.parent].children_s += s.end - s.start

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            tracer._after(name, s, args, kwargs, out)
            return out

        return traced

    def _after(self, name, span, args, kwargs, out) -> None:
        """Per-layer extras read right after the span closes, so reading
        them is not charged to the layer."""
        if name == "streaming.drain":
            span.info["progress"] = [p.durationMs for p in out.recentProgress if p.numInputRows]
        elif name in ("ops.dedup.minhash", "ops.similarity.near_dup"):
            span.info["_pairs"] = out  # counted at harvest, outside the span
        elif name == "io.write_parquet":
            path = args[1] if len(args) > 1 else kwargs["path"]
            span.info["files"] = sum(
                1
                for d, _, names in os.walk(path)
                for n in names
                if n.endswith(".parquet") and os.stat(os.path.join(d, n)).st_mtime >= span.wall0
            )
        if name.startswith("io.write"):
            span.info["cached_mb"] = rdd_storage_mb(self._sc)
        if name == "obs.quarantine" and isinstance(out, int):
            span.info["quarantined"] = out

    @contextlib.contextmanager
    def installed(self):
        """Patch the span wrappers in for the duration of one call."""
        saved = []
        targets = [(importlib.import_module(m), a, n) for m, a, n in _FUNCTIONS]
        targets.append((DataFrameWriter, "parquet", "io.write_parquet"))
        for mod, attr, name in targets:
            owner = mod
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(mod, cls)
            fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))
        try:
            yield
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    # -- harvest -------------------------------------------------------

    def _job(self, jid: int) -> dict:
        """Counters of one job and its stages, from the status store."""
        if jid in self._jobs:
            return self._jobs[jid]
        store = self._jsc.statusStore()
        jd = store.job(jid)
        t0, t1 = jd.submissionTime(), jd.completionTime()
        j = {
            "start": t0.get().getTime() / 1e3 if t0.isDefined() else None,
            "end": t1.get().getTime() / 1e3 if t1.isDefined() else None,
            "stages": 0,
            "tasks": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "exec_run_s": 0.0,
            "exec_cpu_s": 0.0,
        }
        sids = jd.stageIds()
        for i in range(sids.size()):
            sd = store.lastStageAttempt(sids.apply(i))
            if str(sd.status()) == "SKIPPED":
                continue
            j["stages"] += 1
            j["tasks"] += sd.numTasks()
            j["shuffle_bytes"] += sd.shuffleWriteBytes()
            j["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            j["exec_run_s"] += sd.executorRunTime() / 1e3
            j["exec_cpu_s"] += sd.executorCpuTime() / 1e9
        self._jobs[jid] = j
        return j

    def harvest(self, call: int) -> None:
        """Attach job counters to every span of `call`."""
        self._jsc.listenerBus().waitUntilEmpty()
        for s in self.spans:
            if s.call != call:
                continue
            jobs = [self._job(j) for j in range(s.job_lo, s.job_hi)]
            s.info["jobs"] = len(jobs)
            for key, _ in COUNTERS[1:]:
                s.info[key] = sum(j[key] for j in jobs)
            s.info["job_intervals"] = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
            if "_pairs" in s.info:
                s.info["pairs_out"] = s.info.pop("_pairs").count()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "name": s.name,
                        "call": s.call,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "self_s": s.end - s.start - s.children_s,
                        "jobs": list(range(s.job_lo, s.job_hi)),
                        **{k: v for k, v in s.info.items() if k != "job_intervals"},
                    }
                    for s in self.spans
                ],
                fh,
            )


def rdd_storage_mb(sc) -> float:
    """RDD block storage (memory + disk) held by the block manager."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
