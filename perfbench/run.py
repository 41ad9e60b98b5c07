#!/usr/bin/env python3
"""The repository benchmark: merge-path and contract-query workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Inputs are generated from ``--seed`` into
``.perfbench_work/`` (reused while the seed repeats), the package is driven
through its public functions on ``local[<cores>]`` in this one process, and
every output is checked outside the timed region.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  ``perfbench/README.md`` maps metrics to layers and
workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = len(os.sched_getaffinity(0))
# get_spark pre-touches the whole driver heap at start-up, and its adaptive
# default (a fifth of RAM, at least 8g) would make every run hold 8 GB of
# resident memory; 2g is enough for every workload here.
DRIVER_MEM = "2g"

# Oracle-backed contract keys that leave no persisted state between calls
# and are not streaming: single-read keys, then the iterative tail whose
# builders run eager rounds (lineage cuts, persisted frames).
CONTRACT_KEYS = [
    "pricing_summary", "nation_revenue", "sessionize", "text_token_stats",
    "top_revenue_orders", "union_all", "json_extract", "window_agg_events",
    "sql_star_join", "asof_join",
    "semdedup", "pagerank", "graph_triangles", "graph_kcore_portable",
    "knn_graph", "dedup_ngram_jaccard_bounded",
]

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "input_rows_per_s": "rows/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warm_engine_s": "s",
    "session.first_touch_canary_s": "s",
    "session.stage_latency_canary_s": "s",
    "catalog.scan_folders_s": "s",
    "catalog.files": "count",
    "catalog.probe_schemas_s": "s",
    "catalog.spark_probe_calls": "count",
    "catalog.arrow_probe_hit_ratio": "ratio",
    "planner.smart_batch_self_s": "s",
    "planner.batches": "count",
    "planner.singletons": "count",
    "planner.mismatch_batches": "count",
    "merge.build_s": "s",
    "merge.write_parquet_s": "s",
    "merge.batch_p50_s": "s",
    "merge.batch_p90_s": "s",
    "merge.jobs_per_batch": "count",
    "merge.rows_out": "count",
    "merge.bytes_out": "bytes",
    "export.export_csv_s": "s",
    "export.bytes_out": "bytes",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "reader.parquet_calls": "count",
    "reader.parquet_s": "s",
    "catalyst.plan_s": "s",
    "barrier.materialize_calls": "count",
    "barrier.materialize_s": "s",
    "partitioning.fan_out_calls": "count",
    "partitioning.fan_out_passthrough": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.input_records": "count",
    "spark.output_mb": "MB",
    "spark.core_busy_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.top_span_coverage": "ratio",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it.  Below 40 samples that percentile is p75 or lower,
    so p90 is reported instead (interpolated, and more robust than the
    maximum); the record states the sample count."""
    xs = sorted(samples)
    if len(xs) < 40:
        return 90.0, statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]
    i = len(xs) - 11
    return 100.0 * (i + 1) / len(xs), xs[i]


# --------------------------------------------------------------- memory


def _tree_pids(root_pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root_pid, 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((c, pid) for c in children.get(pid, []))
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process and its descendants: the JVM and
    the Python workers it forks.  A child that still shares its parent's
    address space (the JVM spawns helpers with vfork semantics, and until
    they exec their statm is the parent's) is counted once, not twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    statm: dict[int, str] = {}
    for pid, ppid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                statm[pid] = fh.read()
            if statm[pid] == statm.get(ppid):
                continue
            total += int(statm[pid].split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 2**20


class RssSampler:
    """Peak process-tree RSS over the spans in which it is armed."""

    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.peak = 0.0
        self.armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.armed.wait(0.05) and not self._stop.is_set():
                self.peak = max(self.peak, tree_rss_mb())
                self._stop.wait(self.every_s)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# -------------------------------------------------------------- session


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable by the Python workers Spark forks."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # driver JVM only: with -Xms equal to the heap size, get_spark's
    # AlwaysPreTouch faults the whole heap at start-up, so resident memory
    # does not follow GC timing
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xms{DRIVER_MEM}"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path[:0] = [ROOT, HERE]


def start_session(warm: bool):
    """Start Spark as the entry point does: ``get_spark`` for the merge
    CLI, ``get_spark`` + ``warm_engine`` for the contract bench."""
    from parquet_merger_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=CPUS)
    rec = {"get_spark_s": time.perf_counter() - t0, "warm_engine_s": 0.0}
    spark.sparkContext.setLogLevel("ERROR")
    if warm:
        t0 = time.perf_counter()
        session.warm_engine(spark, CPUS)
        rec["warm_engine_s"] = time.perf_counter() - t0
    rec["setup_s"] = rec["get_spark_s"] + rec["warm_engine_s"]
    return spark, rec


def steal_s() -> float:
    """CPU time the hypervisor took from this VM so far, over all cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def canaries(spark) -> dict:
    """Host-health canaries, taken after the timed iterations: recorded
    with the run so a disagreeing run can be explained, never used to
    drop it."""
    from parquet_merger_spark import session

    return {
        "first_touch_canary_s": session.first_touch_canary_s(),
        "stage_latency_canary_s": session.stage_latency_canary_s(spark, reps=5, warmup=1),
    }


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def flush_page_cache() -> None:
    """Write back every dirty page now, outside the timing.  Otherwise
    the kernel writes the generated inputs, earlier outputs and Spark's
    shuffle files back 30 s after they were written, in the middle of a
    later timed region.  Outputs are deleted before this call, so their
    pages are dropped rather than written."""
    os.sync()


def clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


# ----------------------------------------------------------- workloads


def _keep_only(prefix: str, keep: str) -> None:
    """Drop cached inputs of other seeds so the work dir stays small."""
    inputs = os.path.join(WORK, "inputs")
    for name in os.listdir(inputs) if os.path.isdir(inputs) else []:
        if name.startswith(prefix) and os.path.join(inputs, name) != keep:
            shutil.rmtree(os.path.join(inputs, name), ignore_errors=True)


class MergeWorkload:
    """scan_folders -> smart_batch -> merge_batches(single_file=True) once
    over all plans per iteration, as ``python -m parquet_merger_spark
    merge`` does.  One op is one batch."""

    warm = False
    csv = False
    generator = "small_files"
    # seconds budgeted per timed iteration on a 4-core host, with headroom
    # for the host's slow spells (a warm iteration takes 2-4 s)
    nominal_s = 4.0
    warmup_iterations = 2

    def __init__(self, seed: int):
        import gen

        self.spark = None  # set once the session has started
        self.tree = getattr(gen, self.generator)(os.path.join(WORK, "inputs"), seed)
        _keep_only(self.generator + "-", self.tree)
        self.manifest = gen.read_manifest(self.tree)
        self.input_rows = sum(
            _rows(p) for b in self.manifest["batches"].values() for p in b["paths"]
        )
        self.out = os.path.join(WORK, "out")

    def warmup(self, trace: bool) -> dict:
        """Untimed iterations.  The first, cold one takes about 2.5 times
        as long as a warm one.  The JIT keeps making iterations faster for
        several more (5-15% from the second to the fifth); more warm-up
        would not fit the time budget, so the median over the timed
        iterations is taken inside that trend."""
        verdicts = {}
        for i in range(self.warmup_iterations):
            verdicts.update({f"w{i}:{k}": v for k, v in self.iteration()["verdicts"].items()})
        return {"verdicts": verdicts}

    def _pipeline(self) -> tuple[float, float, list]:
        """(wall seconds, merge start as epoch seconds, batch results)."""
        from parquet_merger_spark.operators import merge
        from parquet_merger_spark.plans import planner
        from parquet_merger_spark.sources import catalog

        shutil.rmtree(self.out, ignore_errors=True)
        flush_page_cache()
        t0 = time.perf_counter()
        entries = catalog.scan_folders([os.path.join(self.tree, "tree")])
        plans, _ = planner.smart_batch(self.spark, entries)
        merge_start = time.time()
        results = merge.merge_batches(self.spark, plans, self.out, single_file=True, csv=self.csv)
        return time.perf_counter() - t0, merge_start, results

    def iteration(self, sampler: RssSampler | None = None) -> dict:
        if sampler:
            sampler.armed.set()
        wall, merge_start, results = self._pipeline()
        if sampler:
            sampler.armed.clear()
        return self._finish(wall, merge_start, results)

    def _finish(self, wall: float, merge_start: float, results: list) -> dict:
        from checks import check_merge

        merged = os.path.join(self.out, "merged")
        return {
            "wall": wall,
            "ops": self._batch_times(merge_start, results),
            "verdicts": check_merge(self.manifest, merged, results, self.csv),
            "rows_out": sum(r.rows or 0 for r in results),
            "bytes": {
                ext: sum(os.path.getsize(os.path.join(merged, f)) for f in os.listdir(merged) if f.endswith(ext))
                for ext in (".parquet", ".csv")
            },
        }

    def _batch_times(self, start: float, results: list) -> dict[str, float]:
        """Seconds per batch name from the outputs' modification times:
        batches run serially, so each ends when its last output file is
        written.  This needs no hook inside merge_batches."""
        merged = os.path.join(self.out, "merged")
        exts = [".parquet", ".csv"] if self.csv else [".parquet"]
        times, prev = {}, start
        for r in results:
            outs = [os.path.join(merged, r.name + e) for e in exts]
            outs = [p for p in outs if os.path.isfile(p)]
            if not r.ok or not outs:
                continue
            end = max(os.stat(p).st_mtime for p in outs)
            times[r.name] = max(end - prev, 0.0)
            prev = end
        return times

    def paired(self, tracer, n: int) -> tuple[list[dict], list[dict]]:
        """n untraced and n traced iterations, alternating which of each
        pair runs first, so that warming over the run does not favour
        either side of the tracing overhead."""
        untraced, traced = [], []
        for i in range(n):
            for t in (False, True) if i % 2 == 0 else (True, False):
                if t:
                    traced.append(self.traced_iteration(tracer, i))
                else:
                    untraced.append(self.iteration())
        return untraced, traced

    def traced_iteration(self, tracer, n: int) -> dict:
        seen = {"files": 0, "plans": None, "batch": -1, "span": None}

        def on_scan(result, args, kwargs, dt):
            seen["files"] = len(result)

        def on_plan(result, args, kwargs, dt):
            seen["plans"] = result

        def next_batch(args, kwargs):
            # merge_batches starts every batch with merged_df_ordered, so
            # its call marks a batch boundary
            if seen["span"] is not None:
                tracer.end(seen["span"])
            seen["batch"] += 1
            tracer.context = {"iteration": n, "batch": seen["batch"]}
            seen["span"] = tracer.begin("merge.batch")
            tracer.job_group(f"it{n}-batch")

        tracer.install(on_scan, on_plan, next_batch)
        tracer.context = {"iteration": n}
        tracer.job_group(f"it{n}-plan")
        try:
            wall, merge_start, results = self._pipeline()
            if seen["span"] is not None:
                tracer.end(seen["span"])
        finally:
            tracer.restore()
            clear_job_group(self.spark.sparkContext)
        it = self._finish(wall, merge_start, results)
        plans, singletons = seen["plans"]
        it["layers"] = {
            "catalog.files": seen["files"],
            "planner.batches": len(plans),
            "planner.singletons": singletons,
            "planner.mismatch_batches": sum(p.schema_mismatch for p in plans),
            "merge.rows_out": it["rows_out"],
            "merge.bytes_out": it["bytes"][".parquet"],
            "export.bytes_out": it["bytes"][".csv"],
        }
        return it


class LargeMergeWorkload(MergeWorkload):
    csv = True
    generator = "large_batches"
    nominal_s = 4.0  # a warm iteration takes 3-5 s
    warmup_iterations = 1


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


_TABLE_REF = re.compile(r"\b(?:FROM|JOIN)\s+([a-z_]+)\b", re.IGNORECASE)


class ContractWorkload:
    """Contract keys built and collected, one pass over the key list per
    iteration.  One op is one key."""

    warm = True
    nominal_s = 12.0  # one pass takes 12-20 s

    def __init__(self, seed: int):
        import gen
        from checks import oracle_hashes
        from parquet_merger_spark.oracle import TABLES
        from parquet_merger_spark.queries import ORACLE_SQL, QUERIES

        self.spark = None  # set once the session has started
        self.queries = QUERIES
        self.sf = gen.analytics_tables(os.path.join(WORK, "inputs"), seed)
        _keep_only("analytics-", self.sf)
        # a fixed order: a key's first call pays part of the session's
        # warm-up, so a permuted order would move that cost from key to key
        # between runs
        self.keys = list(CONTRACT_KEYS)
        self.oracle = oracle_hashes(self.sf, self.keys, ORACLE_SQL)
        table_rows = {t: _rows(os.path.join(self.sf, f"{t}.parquet")) for t in TABLES}
        # input rows of a pass: rows of every fixture table each key's
        # oracle query reads
        self.input_rows = sum(
            table_rows[t]
            for k in self.keys
            for t in {m.lower() for m in _TABLE_REF.findall(ORACLE_SQL[k])} & set(TABLES)
        )

    def warmup(self, trace: bool) -> dict:
        """Untimed pass before a traced run, so that its untraced and
        traced passes are both warm.  Untraced runs time each key's first
        call after warm_engine, as bench.py does."""
        return self.iteration() if trace else {"wall": None, "ops": {}, "verdicts": {}}

    def _call(self, k: str, span=None):
        """Build key ``k`` and collect it: (seconds, verdict).  The collect
        is the action so that the timed result is also the checked one."""
        from checks import check_key

        # outside the timed region, as bench.py's run_once does
        self.spark.catalog.clearCache()
        flush_page_cache()
        t0 = time.perf_counter()
        try:
            pdf = span(k) if span else self.queries[k](self.spark, self.sf).toPandas()
        except Exception as exc:  # a failing key is counted, the run goes on
            return time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        return dt, check_key(pdf, self.oracle[k])

    def iteration(self, sampler: RssSampler | None = None) -> dict:
        ops, verdicts = {}, {}
        for k in self.keys:
            if sampler:
                sampler.armed.set()
            ops[k], verdicts[k] = self._call(k)
            if sampler:
                sampler.armed.clear()
        return {"wall": sum(ops.values()), "ops": ops, "verdicts": verdicts}

    def _traced_call(self, tracer, i: int, k: str, layers: dict):
        """One key with spans and job groups around build, planning and
        action."""
        tracer.context = {"key": k}
        key_span = tracer.begin("queries.key")
        try:
            tracer.job_group(f"k{i}-build")
            span = tracer.begin("queries.build")
            df = self.queries[k](self.spark, self.sf)
            tracer.end(span)
            tracer.job_group(f"k{i}-action")
            span = tracer.begin("catalyst.plan")
            layers["catalyst.plan_s"] += tracer.catalyst_s(df)
            tracer.end(span)
            span = tracer.begin("queries.action")
            pdf = df.toPandas()
            tracer.end(span)
            return pdf
        finally:
            tracer.end(key_span)

    def paired(self, tracer, n: int) -> tuple[list[dict], list[dict]]:
        """Every key once untraced and once traced, alternating which call
        comes first from key to key, so that a key's second call being
        warmer does not favour either side of the tracing overhead."""
        untraced = {"ops": {}, "verdicts": {}}
        traced = {"ops": {}, "verdicts": {}, "layers": {"catalyst.plan_s": 0.0}}
        for p in range(n):
            for i, k in enumerate(self.keys):
                for side in (untraced, traced) if (i + p) % 2 == 0 else (traced, untraced):
                    if side is traced:
                        tracer.install()
                        try:
                            dt, v = self._call(k, lambda k: self._traced_call(tracer, i, k, traced["layers"]))
                        finally:
                            tracer.restore()
                            clear_job_group(self.spark.sparkContext)
                    else:
                        dt, v = self._call(k)
                    side["ops"][f"{p}:{k}"] = dt
                    side["verdicts"][f"{p}:{k}"] = v
        build_groups = [g for g in tracer.groups if g.endswith("-build")]
        traced["layers"]["queries.build_jobs"] = tracer.stage_totals(build_groups)["jobs"] / n
        traced["layers"]["catalyst.plan_s"] /= n
        for side in (untraced, traced):
            side["wall"] = sum(side["ops"].values()) / n
        return [untraced], [traced]


WORKLOADS = {
    "merge_small_files": MergeWorkload,
    "merge_large_batches": LargeMergeWorkload,
    "contract_queries": ContractWorkload,
}


# --------------------------------------------------------------- layers


def layer_metrics(tracer, its: list[dict], untraced_walls: list[float], setup: dict) -> dict:
    """Per-layer metrics of the traced iterations, per iteration."""
    from tracing import self_time

    n = len(its)
    c = tracer.counts
    spans = tracer.spans
    wall = sum(it["wall"] for it in its)
    batches = [s["end"] - s["start"] for s in spans if s["name"] == "merge.batch"]
    batch_groups = [g for g in tracer.groups if g.endswith("-batch")]
    probed = c["catalog.probe_schemas.files"]
    out = {k: 0.0 for k in PER_LAYER}
    for it in its:
        for k, v in it.get("layers", {}).items():
            out[k] += v / n
    spark = tracer.stage_totals(tracer.groups)
    top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    out.update(
        {
            "session.get_spark_s": setup["get_spark_s"],
            "session.warm_engine_s": setup["warm_engine_s"],
            "session.first_touch_canary_s": setup["first_touch_canary_s"],
            "session.stage_latency_canary_s": setup["stage_latency_canary_s"],
            "catalog.scan_folders_s": c["catalog.scan_folders.s"] / n,
            "catalog.probe_schemas_s": c["catalog.probe_schemas.s"] / n,
            "catalog.spark_probe_calls": c["catalog.probe_schema.calls"] / n,
            "catalog.arrow_probe_hit_ratio": (probed - c["catalog.probe_schema.calls"]) / probed if probed else 0.0,
            "planner.smart_batch_self_s": self_time(spans, "planner.smart_batch", "catalog.probe_schemas") / n,
            "merge.build_s": self_time(spans, "merge.merged_df_ordered", "catalog.probe_schemas") / n,
            "merge.write_parquet_s": c["merge.write_parquet.s"] / n,
            "merge.batch_p50_s": statistics.median(batches) if batches else 0.0,
            "merge.batch_p90_s": statistics.quantiles(batches, n=10, method="inclusive")[-1] if len(batches) > 1 else sum(batches),
            "merge.jobs_per_batch": tracer.stage_totals(batch_groups)["jobs"] / len(batches) if batches else 0.0,
            "export.export_csv_s": c["export.export_csv.s"] / n,
            "queries.build_s": sum(s["end"] - s["start"] for s in spans if s["name"] == "queries.build") / n,
            "queries.action_s": sum(s["end"] - s["start"] for s in spans if s["name"] == "queries.action") / n,
            "reader.parquet_calls": c["reader.parquet.calls"] / n,
            "reader.parquet_s": c["reader.parquet.s"] / n,
            "barrier.materialize_calls": c["barrier.materialize.calls"] / n,
            "barrier.materialize_s": c["barrier.materialize.s"] / n,
            "partitioning.fan_out_calls": c["partitioning.fan_out.calls"] / n,
            "partitioning.fan_out_passthrough": c["partitioning.fan_out.passthrough"] / n,
            "spark.core_busy_ratio": spark["executor_run_s"] / (wall * CPUS),
            "trace.overhead_s": statistics.median(it["wall"] for it in its) - statistics.median(untraced_walls),
            "trace.top_span_coverage": top / wall,
        }
    )
    for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "input_records", "output_mb"):
        out[f"spark.{k}"] = spark[k] / n
    return out


# ----------------------------------------------------------------- main


def run(args) -> dict:
    from tracing import Tracer

    cls = WORKLOADS[args.workload]
    log("generating inputs")
    wl = cls(args.seed)
    log("starting Spark")
    spark, setup = start_session(cls.warm)
    wl.spark = spark
    sampler = RssSampler()
    try:
        log("warm-up")
        first = wl.warmup(bool(args.trace))
        # a fixed iteration count per --seconds keeps the op count, and so
        # the tail percentile, the same from run to run
        n = max(1, int(args.seconds // cls.nominal_s))
        steal0 = steal_s()
        traced = []
        if args.trace:
            log("untraced and traced iterations")
            tracer = Tracer(spark)
            its, traced = wl.paired(tracer, n)
        else:
            log("timed iterations")
            its = [wl.iteration(sampler) for _ in range(n)]
        setup["steal_s"] = steal_s() - steal0
        setup.update(canaries(spark))
        if args.trace:
            layers = layer_metrics(tracer, traced, [it["wall"] for it in its], setup)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"))
        log("stopping Spark")
    finally:
        sampler.close()
        stop_session(spark)

    log("done")
    verdicts = [v for it in [first, *its, *traced] for v in it["verdicts"].values()]
    failures = [v for v in verdicts if v is not None]
    # each op's median over the timed iterations, so that one slow
    # iteration moves neither the p50 nor the tail
    by_op: dict[str, list[float]] = {}
    for it in its:
        for name, dt in it["ops"].items():
            by_op.setdefault(name, []).append(dt)
    ops = [statistics.median(v) for v in by_op.values()]
    walls = [it["wall"] for it in its]
    pct, tail_s = tail(ops)
    wall_s = statistics.median(walls)
    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": wall_s,
        "input_rows_per_s": wl.input_rows / wall_s,
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail_s,
        "peak_rss_mb": sampler.peak,
    }
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": CPUS,
        "setup": setup,
        "iterations": len(its),
        "iteration_walls_s": walls,
        "op_s": [it["ops"] for it in its],
        "op_samples": len(ops),
        "op_tail_percentile": pct,
        "fail_ratio": len(failures) / len(verdicts),
        "failures": failures[:10],
        "end_to_end": e2e,
    }
    print("perfbench-record " + json.dumps(record))
    return {
        "correct": not failures,
        "attempted": len(verdicts),
        "failed": len(failures),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parquet_merger_spark", "__init__.py")):
        log("parquet_merger_spark/ not found: run from the repository root")
        return 2
    prepare_env()
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
