"""Traced-run plumbing: spans and counters around the package's public
functions, plus Spark's per-stage metrics from the live status store.

Only the benchmark's own code is touched.  :class:`Tracer` replaces module
attributes with timing wrappers while it is active, including the names
that importing modules bound at import time (``from x import f`` copies
the function into the importer, so patching ``x.f`` alone would miss those
call sites), and puts every original back on :meth:`Tracer.restore`.

Spans are kept in memory and written out once, when the run ends.  Spark
jobs are attributed to spans through job groups that the tracer sets
around each key, batch and iteration; stage metrics come from
``AppStatusStore``, which is populated with the UI disabled.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.groups: list[str] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.context: dict = {}  # run/iteration/key/batch ids stamped on spans

    # -------------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, **attrs) -> int:
        stack = self._stack()
        self.spans.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": stack[-1] if stack else None,
                **self.context,
                **attrs,
            }
        )
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def end(self, idx: int) -> float:
        self._stack().remove(idx)
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        return span["end"] - span["start"]

    def job_group(self, gid: str) -> None:
        """Attribute the calling thread's next Spark jobs to ``gid``."""
        self.sc.setJobGroup(gid, gid)
        if gid not in self.groups:
            self.groups.append(gid)

    # ------------------------------------------------------------ patches

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap(self, owners: list, attr: str, name: str, after=None, before=None, span=True):
        """Replace ``owner.attr`` on every owner with one timing wrapper.

        ``before(args, kwargs)`` runs before the call; ``after(result,
        args, kwargs, seconds)`` after it.  ``span=False`` only counts
        calls and time (for functions called from worker threads, whose
        spans would have no parent)."""
        original = getattr(owners[0], attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            idx = tracer.begin(name) if span else None
            t0 = time.perf_counter()
            try:
                result = original(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                if idx is not None:
                    tracer.end(idx)
                tracer.count(f"{name}.calls", 1)
                tracer.count(f"{name}.s", dt)
            if after is not None:
                after(result, args, kwargs, dt)
            return result

        wrapper.__wrapped__ = original
        for owner in owners:
            self._set(owner, attr, wrapper)

    def count(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def install(self, on_scan=None, on_plan=None, next_batch=None) -> None:
        """Wrap the public entry points of every layer.  The hooks let a
        workload see scan and planning results and batch boundaries."""
        from pyspark.sql.readwriter import DataFrameReader

        from parquet_merger_spark import barrier, partitioning, queries
        from parquet_merger_spark.operators import dedup, export, graph, merge, multimodal, textstats
        from parquet_merger_spark.plans import planner
        from parquet_merger_spark.sources import catalog
        from parquet_merger_spark.streaming import events

        def probed(result, args, kwargs, dt):
            self.count("catalog.probe_schemas.files", len(args[1]))

        def passthrough(result, args, kwargs, dt):
            self.count("partitioning.fan_out.passthrough", result is args[0])

        self.wrap([catalog], "scan_folders", "catalog.scan_folders", after=on_scan)
        self.wrap([catalog, planner, merge], "probe_schemas", "catalog.probe_schemas", after=probed)
        # the Spark footer probe, called from probe_schemas' thread pool
        self.wrap([catalog], "probe_schema", "catalog.probe_schema", span=False)
        self.wrap([planner], "smart_batch", "planner.smart_batch", after=on_plan)
        self.wrap([merge], "merge_batches", "merge.merge_batches")
        self.wrap([merge], "merged_df_ordered", "merge.merged_df_ordered", before=next_batch)
        self.wrap([merge], "write_parquet", "merge.write_parquet")
        self.wrap([export], "export_csv", "export.export_csv")
        self.wrap([DataFrameReader], "parquet", "reader.parquet", span=False)
        self.wrap(
            [barrier, queries, dedup, graph, textstats, events], "materialize", "barrier.materialize"
        )
        self.wrap(
            [partitioning, dedup, multimodal], "fan_out", "partitioning.fan_out", after=passthrough
        )

    def restore(self) -> None:
        while self._patches:
            owner, attr, value = self._patches.pop()
            setattr(owner, attr, value)

    # -------------------------------------------------------- stage data

    def stage_totals(self, groups: list[str]) -> dict[str, float]:
        """Sum per-stage metrics over every job of ``groups``.  Stages a
        job skipped (shuffle reuse) have no activity and are left out."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        tot: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        for gid in dict.fromkeys(groups):
            for jid in tracker.getJobIdsForGroup(gid):
                tot["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = tracker.getStageInfo(sid)
                    if sid in seen or si is None:
                        continue
                    if si.numActiveTasks + si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    seen.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JError:
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += sd.numTasks()
                    tot["failed_tasks"] += sd.numFailedTasks()
                    tot["executor_run_s"] += sd.executorRunTime() / 1e3
                    tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    tot["gc_s"] += sd.jvmGcTime() / 1e3
                    tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                    tot["spill_mb"] += sd.diskBytesSpilled() / 2**20
                    tot["input_mb"] += sd.inputBytes() / 2**20
                    tot["input_records"] += sd.inputRecords()
                    tot["output_mb"] += sd.outputBytes() / 2**20
        return tot

    def catalyst_s(self, df) -> float:
        """Force analysis, optimization and physical planning of ``df``
        and return the three phases' summed time from Spark's
        ``QueryPlanningTracker``."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total_ms = 0
        it = phases.iterator()
        while it.hasNext():
            total_ms += it.next()._2().durationMs()
        return total_ms / 1e3

    # ------------------------------------------------------------ output

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def self_time(spans: list[dict], name: str, child: str) -> float:
    """Total time of spans ``name`` minus the time their direct ``child``
    spans cover."""
    idx = {i for i, s in enumerate(spans) if s["name"] == name}
    total = sum(spans[i]["end"] - spans[i]["start"] for i in idx)
    covered = sum(
        s["end"] - s["start"] for s in spans if s["name"] == child and s["parent"] in idx
    )
    return total - covered
