"""Benchmark driver: one workload in one process, one JSON result line.

    python3 perfbench/run.py --workload corpus_prep --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The process generates its seeded
inputs under ``.perfbench_work/`` (reused when the seed and sizes
match; not part of any metric), starts a Spark session with
``local[<cores>]``, loads the registry and warms up: the workload's
first call (every call, for a workload marked ``full_warm_up``) runs
once, unmeasured, over its tiny inputs, so the costs every first call
pays (JIT, Python worker start-up, Arrow, the first Spark job or
streaming query) are paid there. ``setup_s`` is process start through
the warm-up. Timed iterations over the full inputs then follow until
``--seconds`` have passed (at least one); ``job_s`` is their median.
Without a full warm-up the first timed iteration still pays the first
use of each later call's own plans (code generation, its Python
workers), as a fresh driver does; a full warm-up for every workload
would not fit the run budget. Every timed call's result is checked
after the loop.

The last line of standard output is ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is a readable
summary with the details (tail percentile and its sample count,
failure share, input digest, tracing overhead).

With ``--trace 1`` the timed iterations alternate untraced and traced,
at least three (untraced, traced, untraced). The per-layer metrics are
medians over the traced ones, and the tracing overhead is the median
traced iteration time minus the median of the untraced ones after the
first.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
# a fixed heap and young generation, so the peak RSS does not follow the
# JVM's adaptive heap sizing from run to run
DRIVER_JAVA_OPTIONS = "-Xms2g -XX:NewSize=256m -XX:MaxNewSize=256m"

sys.path.insert(0, HERE)

from gen import generate  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402


@dataclass
class Call:
    slug: str
    iteration: int
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    result: object = None

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Iteration:
    number: int
    traced: bool
    wall_s: float = 0.0
    calls: list[Call] = field(default_factory=list)


def process_age() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:  # the process has exited
            continue
        for task in tasks:
            try:
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


class Runner:
    """Runs the iterations of one workload in the closed loop."""

    def __init__(self, spark, wl: Workload, manifest: dict, queries, tracer):
        self.spark = spark
        self.wl = wl
        self.manifest = manifest
        self.queries = queries
        self.tracer = tracer
        self.calls: list[Call] = []
        self._pending: list[tuple[int, list[str]]] = []  # traced call -> its job groups

    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def _input_path(self, number: int, manifest: dict) -> str:
        tables = manifest["tables_dir"]
        if not self.wl.fresh_snapshot:
            return tables
        snap = os.path.join(WORK, "snapshots", f"{os.getpid()}-{number}")
        os.makedirs(os.path.dirname(snap), exist_ok=True)
        os.symlink(tables, snap)
        return snap

    def _call(self, slug: str, it: Iteration, path: str, text_dir: str | None) -> None:
        call = Call(slug, it.number)
        call_id = len(self.calls)
        self.calls.append(call)
        it.calls.append(call)
        if it.traced:
            self.tracer.begin_call(call_id, slug)
        t0, t1 = time.perf_counter(), None
        try:
            if self.wl.name == "mr_wordcount":
                from mapreduce_rust_spark.operators.mapreduce import MapReduceJob, wordcount_fns

                job = MapReduceJob(*wordcount_fns())
                out_dir = os.path.join(WORK, "out", f"{os.getpid()}-{it.number}-{call_id}")
                with self._span("plans.build"):
                    result = job.run(self.spark, text_dir)
                t1 = time.perf_counter()
                with self._span("plans.exec"):
                    job.write(result, out_dir)
                call.result = out_dir
            else:
                with self._span("plans.build"):
                    df = self.queries[slug](self.spark, path)
                t1 = time.perf_counter()
                with self._span("plans.exec"):
                    call.result = df.toPandas()
        except Exception as e:  # noqa: BLE001 — a failed call is counted, the loop goes on
            call.error = f"{type(e).__name__}: {str(e)[:300]}"
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        call.build_s, call.exec_s = t1 - t0, t2 - t1
        if it.traced:
            self._pending.append((call_id, self.tracer.end_call()))

    def iteration(self, number: int, traced: bool, manifest: dict | None = None, calls: tuple[str, ...] = ()) -> Iteration:
        """One iteration of ``calls`` (the workload's, by default) over
        ``manifest`` (the timed inputs, by default)."""
        manifest = manifest or self.manifest
        it = Iteration(number, traced)
        path = self._input_path(number, manifest)
        if self.tracer is not None:
            self.tracer.active = traced
            self.tracer.iteration = number
        t0 = time.perf_counter()
        with self._span("iteration"):
            for slug in calls or self.wl.calls:
                self._call(slug, it, path, manifest.get("text_dir"))
        it.wall_s = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.active = False
            for call_id, groups in self._pending:
                self.tracer.read_stages(call_id, groups)
            self._pending.clear()
        return it

    def check(self, calls: list[Call]) -> int:
        """Check the calls' results; returns the number that failed."""
        from check import Gate

        gate = Gate(self.manifest["tables_dir"], self.manifest.get("word_counts"))
        failed = 0
        for call in calls:
            if call.error is None:
                if self.wl.name == "mr_wordcount":
                    call.error = gate.check_wordcount(call.result)
                else:
                    call.error = gate.check_slug(call.slug, call.result)
            if call.error is not None:
                failed += 1
                print(f"FAILED {call.slug} (iteration {call.iteration}): {call.error}", file=sys.stderr)
            call.result = None
        return failed


def configure_environment(cores: int) -> dict[str, str]:
    """Pin the deployment: cores, driver memory and every directory
    Spark, the JVM and Python write to, all inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return {
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    }


def stop_spark(spark) -> None:
    """Stop the session, end the JVM this process launched and wait
    until it and its Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is None:
        return
    with contextlib.suppress(Exception):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — make sure it goes
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        with contextlib.suppress(ProcessLookupError):
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 values beyond it:
    (value, percentile, values beyond). Below 11 values none has, and
    the largest (p100, 0 beyond) is reported."""
    xs = sorted(values)
    if len(xs) <= 10:
        return xs[-1], 100.0, 0
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs), 10


def end_to_end(wl: Workload, manifest: dict, timed: list[Iteration], setup_s: float, rss_mb: float, failed: int, attempted: int):
    """End-to-end metrics over the timed iterations, and details for
    the summary line."""
    job_s = statistics.median(it.wall_s for it in timed)
    by_slug: dict[str, list[float]] = {}
    for it in timed:
        for c in it.calls:
            by_slug.setdefault(c.slug, []).append(c.total_s)
    slug_p50 = {slug: statistics.median(v) for slug, v in by_slug.items()}
    tail_s, tail_pct, tail_beyond = tail([c.total_s for it in timed for c in it.calls])
    metrics = {
        "job_s": (job_s, "s"),
        "items_per_s": (manifest["rows"][wl.items] / job_s, "items/s"),
        # the workload's first call: the same call in every run, and the
        # one the warm-up has already run once
        "call_s_p50": (statistics.median(it.calls[0].total_s for it in timed), "s"),
        "call_s_tail": (tail_s, "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    extra = {
        "failed_frac": failed / attempted,
        "first_errors": [f"{c.slug}: {c.error[:200]}" for it in timed for c in it.calls if c.error][:3],
        "iteration_s": [round(it.wall_s, 3) for it in timed],
        "call_s_tail_percentile": tail_pct,
        "call_s_tail_beyond": tail_beyond,
        "calls": {slug: round(v, 3) for slug, v in slug_p50.items()},
    }
    return metrics, extra


def main(argv: list[str] | None = None) -> int:
    t_main = time.perf_counter()
    age = process_age()
    steal0 = steal_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    needed = ("mapreduce_rust_spark/registry.py", "tools/check_correctness.py", "tools/gen_scale_data.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"not a checkout of the engine, missing {missing} under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    extra_conf = configure_environment(cores)

    t = time.perf_counter()
    data = os.path.join(WORK, "data", wl.name)
    warmup = generate(os.path.join(data, "warmup"), wl.name, args.seed, wl.warmup)
    manifest = generate(os.path.join(data, "timed"), wl.name, args.seed, wl.sizes)
    gen_s = time.perf_counter() - t

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    t = time.perf_counter()
    from mapreduce_rust_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=extra_conf)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        from mapreduce_rust_spark import registry

        queries = registry.queries()
        registry.oracle_sql()
        registry_s = time.perf_counter() - t
        if tracer is not None:
            tracer.attach(spark)
        runner = Runner(spark, wl, manifest, queries, tracer)
        t = time.perf_counter()
        runner.iteration(0, traced=False, manifest=warmup, calls=wl.calls if wl.full_warm_up else wl.calls[:1])
        warmup_s = time.perf_counter() - t
        for call in runner.calls:  # the warm-up is neither checked nor counted
            if call.error is not None:
                print(f"warm-up {call.slug}: {call.error}", file=sys.stderr)
        warmup_calls = {c.slug: round(c.total_s, 3) for c in runner.calls}
        runner.calls.clear()
        setup_s = age + (time.perf_counter() - t_main) - gen_s
        deadline = time.perf_counter() + args.seconds
        # a traced run alternates untraced and traced iterations
        pattern = (False, True) if tracer is not None else (False,)
        timed: list[Iteration] = []
        while len(timed) < 2 * len(pattern) - 1 or time.perf_counter() < deadline:
            n = len(timed)
            timed.append(runner.iteration(n + 1, traced=pattern[n % len(pattern)]))
        if tracer is not None:
            tracer.drain()
        from pyspark import SparkContext

        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t
    t = time.perf_counter()
    failed = runner.check(runner.calls)
    check_s = time.perf_counter() - t
    attempted = len(runner.calls)
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "snapshots"), ignore_errors=True)

    metrics, extra = end_to_end(wl, manifest, [it for it in timed if not it.traced], setup_s, rss_mb, failed, attempted)
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": cores,
        "items": f"{manifest['rows'][wl.items]} {wl.items}",
        "rows": manifest["rows"],
        "input_sha256": manifest["sha256"][:16],
        "gen_s": round(gen_s, 3),
        # host contention during the run, to read the time metrics by
        "host_steal_s": round(steal_s() - steal0, 2),
        **{k: (round(v, 4) if isinstance(v, float) else v) for k, v in extra.items()},
        "setup": {"session_s": round(session_s, 3), "registry_s": round(registry_s, 3), "warmup_s": round(warmup_s, 3), "warmup_calls": warmup_calls},
        "stop_s": round(stop_s, 3),
        "check_s": round(check_s, 3),
    }
    if tracer is not None:
        from spans import layer_metrics

        metrics = layer_metrics(tracer, runner.calls, timed, cores, session_s, registry_s)
        summary["trace_overhead_s"] = round(metrics["trace.overhead_s"][0], 4)
        summary["trace_coverage"] = round(metrics["trace.coverage"][0], 4)
    print("summary " + " ".join(f"{k}={v[0]:.4g}{v[1]}" for k, v in metrics.items()) + " " + json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
