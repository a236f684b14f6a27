"""Per-layer tracing, installed from outside the program.

Only the traced run (``--trace 1``) uses this module. It replaces the
public entry points of each layer with timing wrappers, tags every
slug call with a Spark job group, reads per-stage metrics from the
JVM status store and collects micro-batch progress with a
``StreamingQueryListener``. Spans are kept in memory and reduced to
per-iteration numbers when the run ends.

Wrappers must be installed before the registry imports the plan
modules, so that their ``from ... import load_table`` lines bind the
wrapper and not the original.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute, span name) wrapped before the registry loads.
# ``dedup._memoized`` is the one place that knows whether a memoized
# index was built or served from the session cache, so the index layer
# is observed there; the public index functions
# (``exact_census_index``, ``signature_index``, ...) all go through it.
WRAPPED = (
    ("mapreduce_rust_spark.sources.tables", "load_table", "sources.load"),
    ("mapreduce_rust_spark.sources.tables", "fan_out", "sources.fan_out"),
    ("mapreduce_rust_spark.sources", "load_table", "sources.load"),
    ("mapreduce_rust_spark.sources.text", "read_whole_files", "sources.read_whole_files"),
    ("mapreduce_rust_spark.sources", "read_whole_files", "sources.read_whole_files"),
    ("mapreduce_rust_spark.streaming.queries", "read_stream_table", "sources.read_stream"),
    ("mapreduce_rust_spark.streaming.queries", "run_available_now", "streaming.run"),
)

STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "outputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    iteration: int | None = None
    call: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for the driver thread. ``active`` is off during
    the untraced iterations of a traced run, so the wrappers then cost
    one attribute test."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self.active = False
        self.iteration: int | None = None
        self.call: int | None = None
        self.stages: dict[int, list[dict]] = {}  # call -> stage records
        self.jobs: dict[int, list[int]] = {}  # call -> Spark job ids
        self.mapreduce_calls: set[int] = set()
        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        self.call_runs: dict[int, list[str]] = {}  # call -> stream run ids
        self._spark = None

    # -- spans -----------------------------------------------------
    def open(self, name: str, **attrs) -> int | None:
        if not self.active or threading.get_ident() != self._thread:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.perf_counter(), parent=parent, iteration=self.iteration,
                 call=self.call, attrs=attrs)
        )
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int | None, **attrs) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        self._stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        idx = self.open(name, **attrs)
        try:
            yield
        finally:
            self.close(idx)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return wrapper

    def _wrap_memoized(self, fn):
        tracer = self

        @functools.wraps(fn)
        def memoized(cache, key, build):
            before = cache.get(key)
            idx = tracer.open("operators.index", tag=str(key[-1]))
            try:
                out = fn(cache, key, build)
            finally:
                tracer.close(idx, built=before is None or cache.get(key) is not before)
            return out

        return memoized

    def install(self) -> None:
        """Wrap every layer boundary, then import the dedup module so
        its memo helper can be wrapped too (the modules that share it
        import it at call time)."""
        done: dict[tuple[str, str], object] = {}
        for mod_name, attr, span in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            # a package re-export shares the wrapper of its module
            key = (orig.__module__, attr)
            if key not in done:
                done[key] = self.wrap(orig, span)
            setattr(mod, attr, done[key])
        dedup = importlib.import_module("mapreduce_rust_spark.operators.dedup")
        dedup._memoized = self._wrap_memoized(dedup._memoized)
        mr = importlib.import_module("mapreduce_rust_spark.operators.mapreduce")
        mr.MapReduceJob.write = self.wrap(mr.MapReduceJob.write, "mapreduce.write")

    # -- Spark side ------------------------------------------------
    def attach(self, spark) -> None:
        from pyspark.sql.streaming.listener import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {
                        "run_id": str(p.runId),
                        "batch": p.batchId,
                        "duration_ms": dict(p.durationMs),
                        "input_rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_memory": sum(s.memoryUsedBytes for s in p.stateOperators),
                        "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def begin_call(self, call: int, slug: str) -> None:
        self.call = call
        if slug == "mr_wordcount":
            self.mapreduce_calls.add(call)
        self._n_runs = len(self.run_ids)
        self._spark.sparkContext.setJobGroup(f"perfbench-{call}", slug)

    def end_call(self) -> list[str]:
        """Job groups of the call: its own plus the groups of the
        streams it started (a stream runs its micro-batches under a job
        group named after its run id; the listener hears of a start
        synchronously). Their jobs are looked up after the iteration,
        so the wait for the listener bus is not timed."""
        self.call_runs[self.call] = self.run_ids[self._n_runs :]
        self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        groups = [f"perfbench-{self.call}", *self.call_runs[self.call]]
        self.call = None
        return groups

    def read_stages(self, call: int, groups: list[str]) -> None:
        """Per-stage executor metrics of the jobs of the given groups
        from the JVM status store (works with the UI disabled). Stages
        a job skipped because their shuffle output was reused never ran
        and have no attempt."""
        sc = self._spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        store = sc._jsc.sc().statusStore()
        stage_ids = sorted(
            {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
        )
        records = []
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage: no attempt
                continue
            rec = {f: getattr(sd, f)() for f in STAGE_FIELDS}
            sub, done = sd.submissionTime(), sd.completionTime()
            rec["wall_s"] = (
                (done.get().getTime() - sub.get().getTime()) / 1000.0
                if sub.isDefined() and done.isDefined()
                else 0.0
            )
            records.append(rec)
        self.stages[call] = records
        self.jobs[call] = jobs

    def drain(self) -> None:
        if self._spark is not None:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _self_times(spans: list[Span]) -> list[float]:
    """Duration minus the time covered by direct children (children
    of one parent never overlap: they ran on the same thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return [s.dur - c for s, c in zip(spans, child)]


def _spec_units() -> dict[str, str]:
    """Per-layer metric name -> unit, in the order BENCHMARK.json lists them."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _iteration_layers(tracer: Tracer, number: int, call_ids: list[int], cores: int, selfs: list[float]) -> dict[str, float]:
    spans = [s for s in tracer.spans if s.iteration == number]

    def total(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name)

    def count(name: str) -> int:
        return sum(s.name == name for s in spans)

    m: dict[str, float] = {}
    source_names = ("sources.load", "sources.read_stream", "sources.read_whole_files")
    m["sources.load_calls"] = sum(count(n) for n in source_names)
    m["sources.load_s"] = sum(total(n) for n in source_names)
    m["sources.fan_out_s"] = total("sources.fan_out")
    stages = [st for c in call_ids for st in tracer.stages.get(c, [])]

    def stage_sum(f: str) -> float:
        return float(sum(st[f] for st in stages))

    m["sources.input_rows"] = stage_sum("inputRecords")
    m["sources.input_bytes"] = stage_sum("inputBytes")
    m["plans.build_s"] = total("plans.build")
    m["plans.exec_s"] = total("plans.exec")
    m["plans.jobs"] = sum(len(tracer.jobs.get(c, ())) for c in call_ids)
    m["plans.stages"] = len(stages)
    m["plans.tasks"] = stage_sum("numTasks")
    m["plans.executor_run_s"] = stage_sum("executorRunTime") / 1e3
    m["plans.executor_cpu_s"] = stage_sum("executorCpuTime") / 1e9
    m["plans.gc_s"] = stage_sum("jvmGcTime") / 1e3
    busy = m["plans.build_s"] + m["plans.exec_s"]
    m["plans.executor_utilization"] = m["plans.executor_run_s"] / (busy * cores) if busy else 0.0
    m["plans.shuffle_read_bytes"] = stage_sum("shuffleReadBytes")
    m["plans.shuffle_write_bytes"] = stage_sum("shuffleWriteBytes")
    m["plans.spill_bytes"] = stage_sum("diskBytesSpilled")
    m["plans.failed_tasks"] = stage_sum("numFailedTasks")

    index = [i for i, s in enumerate(tracer.spans) if s.iteration == number and s.name == "operators.index"]
    built = [i for i in index if tracer.spans[i].attrs.get("built")]
    m["operators.index.calls"] = len(index)
    m["operators.index.builds"] = len(built)
    m["operators.index.hit_ratio"] = 1.0 - len(built) / len(index) if index else 0.0
    m["operators.index.build_self_s"] = sum(selfs[i] for i in built)

    # map stages write shuffle output and read none; reduce stages read it
    mr_stages = [st for c in call_ids if c in tracer.mapreduce_calls for st in tracer.stages.get(c, [])]
    reduce = [st for st in mr_stages if st["shuffleReadBytes"] > 0]
    m["operators.mapreduce.map_stage_s"] = sum(
        st["wall_s"] for st in mr_stages if st["shuffleWriteBytes"] > 0 and st["shuffleReadBytes"] == 0
    )
    m["operators.mapreduce.reduce_stage_s"] = sum(st["wall_s"] for st in reduce)
    m["operators.mapreduce.groups"] = float(sum(st["outputRecords"] for st in reduce))
    m["operators.mapreduce.write_s"] = total("mapreduce.write")
    m["operators.mapreduce.write_bytes"] = float(sum(st["outputBytes"] for st in mr_stages))

    runs = {r for c in call_ids for r in tracer.call_runs.get(c, ())}
    prog = [p for p in tracer.progress if p["run_id"] in runs]
    last = {}
    for p in prog:
        if p["batch"] >= last.get(p["run_id"], {"batch": -1})["batch"]:
            last[p["run_id"]] = p

    def dur(key: str) -> float:
        return sum(p["duration_ms"].get(key, 0) for p in prog) / 1e3

    m["streaming.runs"] = count("streaming.run")
    m["streaming.batches"] = len(prog)
    m["streaming.trigger_s"] = dur("triggerExecution")
    m["streaming.add_batch_s"] = dur("addBatch")
    m["streaming.query_planning_s"] = dur("queryPlanning")
    m["streaming.wal_commit_s"] = dur("walCommit")
    m["streaming.commit_offsets_s"] = dur("commitOffsets")
    m["streaming.latest_offset_s"] = dur("latestOffset")
    m["streaming.input_rows"] = float(sum(p["input_rows"] for p in prog))
    m["streaming.state_rows"] = float(sum(p["state_rows"] for p in last.values()))
    m["streaming.state_memory_bytes"] = float(sum(p["state_memory"] for p in last.values()))
    m["streaming.state_commit_s"] = sum(p["state_commit_ms"] for p in prog) / 1e3
    m["streaming.overhead_s"] = total("streaming.run") - m["streaming.trigger_s"] if runs else 0.0
    m["trace.job_s"] = total("iteration")
    m["trace.coverage"] = busy / m["trace.job_s"]
    return m


def layer_metrics(tracer: Tracer, calls, timed, cores: int, session_s: float, registry_s: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: the median of each over the traced timed
    iterations, the one-off set-up spans, and the tracing overhead."""
    selfs = _self_times(tracer.spans)
    traced = [it for it in timed if it.traced]
    per_it = []
    for it in traced:
        ids = [i for i, c in enumerate(calls) if c.iteration == it.number]
        per_it.append(_iteration_layers(tracer, it.number, ids, cores, selfs))
    out = {name: statistics.median(m[name] for m in per_it) for name in per_it[0]}
    out["session.start_s"] = session_s
    out["registry.load_s"] = registry_s
    # the first timed iteration pays the later calls' first use, so the
    # untraced ones after it are the like-for-like comparison
    out["trace.overhead_s"] = statistics.median(it.wall_s for it in traced) - statistics.median(
        it.wall_s for it in timed[1:] if not it.traced
    )
    return {name: (float(out[name]), unit) for name, unit in _spec_units().items()}
