"""Spans around calls into the program, and Spark status-store deltas.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
replaces a module attribute with a wrapper that opens a span around each
call, and restores it when the tracer closes. Spans stay in memory and
are written once, when the run ends.

Spark stages and jobs come from the Spark driver's AppStatusStore (it is
populated even with the UI off). The store is fed by an asynchronous
listener queue, so every read drains the queue first.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time


class Tracer:
    """In-memory spans: (id, name, start, end, parent)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo = contextlib.ExitStack()
        # epoch seconds at perf_counter() == 0, to place status-store times
        self._epoch0 = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def patch(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Trace every call to ``owner.attr`` until ``close``. ``attrs_of``
        maps the call's arguments to extra span attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            extra = attrs_of(*args, **kwargs) if attrs_of else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.callback(setattr, owner, attr, orig)

    def add(self, name: str, start_epoch: float, end_epoch: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (epoch seconds), e.g. a Spark
        job or stage from the status store."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "start": start_epoch - self._epoch0,
            "end": end_epoch - self._epoch0,
            **attrs,
        }
        self.spans.append(rec)
        return rec["id"]

    def add_spark(self, jobs: list[dict], stages: list[dict], parent: int | None) -> None:
        """One span per Spark job, and one per stage under its job."""
        by_id = {s["id"]: s for s in stages}
        for j in jobs:
            if j["start"] is None or j["end"] is None:
                continue
            jid = self.add("spark.job", j["start"], j["end"], parent, job_id=j["id"])
            for sid in j["stage_ids"]:
                s = by_id.get(sid)
                if s and s["start"] is not None and s["end"] is not None:
                    self.add(f"spark.stage.{s['role']}", s["start"], s["end"], jid, stage_id=sid)

    def close(self) -> None:
        self._undo.close()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        own = {s["id"]: self.duration(s) for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= self.duration(s)
        return own

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _cluster_names(graph) -> list[str]:
    names, todo = [], [graph.rootCluster()]
    while todo:
        c = todo.pop()
        names.append(c.name())
        it = c.childClusters().iterator()
        while it.hasNext():
            todo.append(it.next())
    return names


def stage_role(name: str, clusters: list[str]) -> str:
    """Role of a stage in the extraction job, from its operator graph.

    split      - the media bins planned in the Spark driver, sent out as a
                 keyed RDD
    media      - the media kernel (mapInPandas)
    write      - any file write (the reassembly aggregate runs fused into
                 the output write's stage)
    reassembly - an aggregate not fused into a write
    join       - scans and exchanges feeding the span/result join
    other      - file listing and schema inference
    """
    ops = " ".join(clusters)
    if "WriteFiles" in ops:
        return "write"
    if "MapInPandas" in ops:
        return "media"
    if name.startswith("partitionBy"):
        return "split"
    if "HashAggregate" in ops or "SortAggregate" in ops:
        return "reassembly"
    if "Exchange" in ops or "AQEShuffleRead" in ops or "ArrowEvalPython" in ops:
        return "join"
    return "other"


ROLES = ("split", "media", "join", "reassembly", "write")


class StatusStore:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._store = self._sc._jsc.sc().statusStore()

    def drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _empty(self):
        return self._jvm.java.util.Collections.emptyList()

    def _stage_list(self):
        arr = self._sc._gateway.new_array(self._jvm.double, 0)
        return self._store.stageList(self._empty(), False, False, arr, self._empty())

    def max_stage_id(self) -> int:
        self.drain()
        it = self._stage_list().iterator()
        best = -1
        while it.hasNext():
            best = max(best, it.next().stageId())
        return best

    def max_job_id(self) -> int:
        self.drain()
        return max((j["id"] for j in self.jobs()), default=-1)

    def stages(self, after: int = -1, tasks: bool = False) -> list[dict]:
        self.drain()
        it = self._stage_list().iterator()
        out = []
        while it.hasNext():
            s = it.next()
            if s.stageId() <= after or s.status().toString() != "COMPLETE":
                continue
            start, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            rec = {
                "id": s.stageId(),
                "name": s.name(),
                "start": start,
                "end": end,
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
            clusters = _cluster_names(self._store.operationGraphForStage(s.stageId()))
            rec["role"] = stage_role(rec["name"], clusters)
            if tasks and rec["role"] == "media":
                td = self._store.taskList(s.stageId(), s.attemptId(), 1 << 20).iterator()
                durs = []
                while td.hasNext():
                    t = td.next()
                    if t.duration().isDefined():
                        durs.append(t.duration().get() / 1000.0)
                rec["task_s"] = durs
            out.append(rec)
        return out

    def jobs(self, after: int = -1) -> list[dict]:
        it = self._store.jobsList(self._empty()).iterator()
        out = []
        while it.hasNext():
            j = it.next()
            if j.jobId() <= after:
                continue
            sids = j.stageIds().iterator()
            ids = []
            while sids.hasNext():
                ids.append(int(sids.next()))
            out.append({
                "id": j.jobId(),
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "stage_ids": ids,
            })
        return out


def spark_layer(stages: list[dict], jobs: int) -> dict[str, float]:
    """Per-role stage wall and run totals for the stages of one run."""
    out: dict[str, float] = {}
    for role in ROLES:
        out[f"spark.{role}.stage_s"] = sum(
            s["end"] - s["start"] for s in stages if s["role"] == role and s["end"]
        )
    # skew of the media stage that ran the kernels (later media stages
    # re-read the persisted results in milliseconds)
    media = max((s for s in stages if s.get("task_s")), key=lambda s: s["run_s"], default=None)
    durs = media["task_s"] if media else []
    med = statistics.median(durs) if durs else 0.0
    out["spark.media.task_skew"] = max(durs) / med if med > 0 else 0.0
    for key, field in (
        ("executor_run_s", "run_s"),
        ("executor_cpu_s", "cpu_s"),
        ("gc_s", "gc_s"),
        ("input_bytes", "input_bytes"),
        ("shuffle_read_bytes", "shuffle_read_bytes"),
        ("shuffle_write_bytes", "shuffle_write_bytes"),
        ("spill_bytes", "spill_bytes"),
    ):
        out[f"spark.{key}"] = sum(s[field] for s in stages)
    out["spark.jobs"] = jobs
    out["spark.tasks"] = sum(s["tasks"] for s in stages)
    return out
