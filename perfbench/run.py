"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. It generates its inputs from the seed
under ``.perfbench/`` in the checkout, starts one Spark session
(``local[N]``, N = min(4, usable cores)), and drives one workload as a
closed loop with a single client. The last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is a report with every figure and the machine's state.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: its session writes Spark's event log, and it
alternates untraced and traced passes so that ``trace.overhead_ratio``
compares the two. See README.md for what each metric means and which
layer should move which end-to-end number.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# The engine is imported before anything is printed, so a checkout
# without it fails here with no result line.
import machine  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from bigdata_logs_spark import sources  # noqa: E402
from bigdata_logs_spark import registry  # noqa: E402
from bigdata_logs_spark.caching import release_caches  # noqa: E402
from bigdata_logs_spark.session import get_spark  # noqa: E402

SETUPS = 3            # session set-ups per run; setup_s is their median
WARMUP_PASSES = 2     # untimed passes after the verify pass, while the JIT settles
MIN_PASSES = 3        # measured passes, even past --seconds (traced run: 2 of each kind)
DEADLINE_S = 110      # no pass starts after this much wall time; a run cut
                      # before MIN_PASSES fails rather than report thin samples
DRIVER_MEMORY = "2g"  # pinned so runs compare across hosts
CORES = 4             # local[N], N = min(CORES, usable cores)

PER_LAYER = (
    "session.start_s", "session.job_floor_s", "session.peak_rss_mb",
    "sources.load_s", "sources.scan_s", "sources.input_bytes",
    "sources.write_s", "sources.output_bytes", "sources.files_written",
    "registry.build_s", "registry.build_jobs",
    "parse.s", "parse.rows_in", "parse.rows_out", "parse.kept_ratio",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
    "exec.cpu_s", "exec.gc_s", "exec.core_busy_ratio",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "caching.released", "caching.release_s", "caching.storage_bytes",
    "stream.batches", "stream.rows_per_batch", "stream.trigger_ms",
    "stream.latest_offset_ms", "stream.get_batch_ms", "stream.query_planning_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.state_rows", "stream.state_bytes", "stream.tail_s",
    "cli.parse_s", "cli.detect_s",
    "self.bench_s", "self.registry_s", "self.sources_s", "self.exec_s",
    "self.caching_s", "self.cli_s", "self.stream_s",
    "baseline.local1_rows_per_s",
    "trace.overhead_ratio",
)
UNITS = (("_per_s", "rows/s"), ("_bytes", "bytes"), ("_ratio", "ratio"), ("_share", "ratio"),
         ("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), (".s", "s"))
STREAM_PHASES = {
    "trigger_ms": "triggerExecution", "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch", "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def unit(name: str) -> str:
    return next((u for suffix, u in UNITS if name.endswith(suffix)), "count")


def labelled(metrics: dict) -> dict:
    return {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = min(CORES, machine.cores())
        self.workload = workloads.WORKLOADS[args.workload](args.seed, work)
        self.tracer = tracing.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}
        self.counts = {"released": 0, "storage_bytes": 0}
        self.log_dir = ""
        self.jvm = 0

    # ---------------------------------------------------------- session
    def open_session(self, master: str | None = None, extra: dict | None = None):
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        conf.update(extra or {})
        self.spark = get_spark("perfbench", master=master or f"local[{self.cores}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        release_caches()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def set_up(self, **kw) -> float:
        """A fresh session plus the first touch of the inputs."""
        t = time.perf_counter()
        spark = self.open_session(**kw)
        if not self.workload.first_touch(spark):
            self.fail("first touch: input row count differs from the generator's")
        return time.perf_counter() - t

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)

    # ---------------------------------------------------------- passes
    def one_pass(self, pass_no: int, calls_out: list | None) -> float:
        """Run every call of a pass; returns the pass's timed seconds
        (the calls, not their untimed checks)."""
        total = 0.0
        tr = self.tracer
        tr.pass_no = pass_no
        with tr.span("bench.pass"):
            for i, name in enumerate(self.workload.pass_calls(pass_no)):
                tr.call = i
                self.attempted += 1
                try:
                    out, dt = self.timed_call(name, f"perfbench-p{pass_no}-c{i}")
                    with tr.span("check.output"):
                        ok = self.workload.check(self.spark, name, out)
                except Exception:  # noqa: BLE001 — a failed call is counted, not fatal
                    self.fail(f"pass {pass_no}: {name} raised\n{traceback.format_exc()[-2000:]}")
                    continue
                total += dt
                if calls_out is not None:
                    calls_out.append((name, dt))
                if not ok:
                    self.fail(f"pass {pass_no}: {name} output differs from its reference")
        return total

    def timed_call(self, name: str, tag: str):
        """One call plus the cache release that ends it, tagged for the
        event log when tracing."""
        tr = self.tracer
        if tr.enabled:
            self.spark.addTag(tag)
        try:
            t = time.perf_counter()
            with tr.span("bench.call"):
                out = self.workload.call(self.spark, tr, name)
                if tr.enabled:
                    self.counts["storage_bytes"] += storage_bytes(self.spark)
                with tr.span("caching.release"):
                    self.counts["released"] += release_caches()
            return out, time.perf_counter() - t
        finally:
            if tr.enabled:
                self.spark.removeTag(tag)

    # ---------------------------------------------------------- run
    def run(self) -> dict:
        args, wl = self.args, self.workload
        self.report["machine_start"] = machine.stamp()
        ticks = machine.cpu_ticks()
        conf = None
        if args.trace:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.log_dir,
                    "spark.eventLog.compress": "false"}

        t_gen = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t_gen
        start_s = self.set_up(extra=conf) + (t_gen - T_PROCESS)
        setups = []
        for _ in range(SETUPS):
            self.stop_session()
            setups.append(self.set_up(extra=conf))
        spark = self.spark
        self.jvm = machine.jvm_pid(spark)  # one JVM serves every session of the run
        self.report.update(machine_session=machine.stamp(spark), gen_s=gen_s,
                           session_start_s=start_s, setup_samples=setups)
        floors = [machine.job_floor_s(spark)]
        progress = tracing.ProgressLog()
        if args.trace:  # before any drain: the listener must see every query end
            spark.streams.addListener(progress)

        verify_calls: list = []
        self.one_pass(0, verify_calls)  # fixes every reference, warms the JVM
        warmup: list[float] = [self.one_pass(-1 - i, None) for i in range(WARMUP_PASSES)]
        self.report.update(verify_calls=verify_calls, warmup_pass_samples=warmup)
        if args.trace:
            metrics = self.traced(start_s, floors, progress)
        else:
            metrics = self.untraced(setups, floors)
        self.report["machine_end"] = {"loadavg": os.getloadavg(),
                                      "steal_share": machine.steal_share(ticks, machine.cpu_ticks()),
                                      "cpu_yardstick_s": machine.cpu_yardstick_s()}
        self.report["errors"] = self.errors
        return metrics

    def untraced(self, setups, floors) -> dict:
        passes, calls, t0 = [], [], time.perf_counter()
        ticks = machine.cpu_ticks()
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < self.args.seconds:
            if time.perf_counter() - T_PROCESS > DEADLINE_S:
                break
            passes.append(self.one_pass(len(passes) + 1, calls))
        self.report["pass_samples"] = passes
        if len(passes) < MIN_PASSES:
            return self.cut_short(len(passes), MIN_PASSES)
        steal = machine.steal_share(ticks, machine.cpu_ticks())
        floors.append(machine.job_floor_s(self.spark))
        by_name: dict[str, list[float]] = {}
        for name, dt in calls:
            by_name.setdefault(name, []).append(dt)
        medians = {name: statistics.median(v) for name, v in by_name.items()}
        rows = self.workload.input_rows
        out = {
            "setup_s": statistics.median(setups),
            "pass_s": statistics.median(passes),
            # Each call's median over the passes, then the median of those:
            # the median of all raw latencies falls in the gap between two
            # calls' latency clusters and jumps between them from run to run.
            "call_p50_s": statistics.median(medians.values()),
        }
        extra = {"peak_rss_mb": machine.peak_rss_mb(self.jvm), "steal_share": steal}
        if isinstance(self.workload, workloads.Ingest):
            out["rows_per_s"] = rows / medians["etl"]
            extra["stream_rows_per_s"] = rows / medians["drain"]
        else:
            out["rows_per_s"] = rows / out["pass_s"]
        lat = [c[1] for c in calls]
        if len(lat) >= 100:
            extra["call_p90_s"] = statistics.quantiles(lat, n=10)[-1]
        extra.update(calls=len(lat), failed_ratio=self.failed / max(1, self.attempted))
        self.report.update(
            call_samples=by_name, job_floor_samples=floors, end_to_end=labelled(out),
            end_to_end_extra=labelled(extra),
        )
        return out

    def cut_short(self, done: int, wanted: int) -> dict:
        """The deadline stopped the measured passes early: fail the run
        rather than report metrics from too few samples."""
        self.fail(f"deadline of {DEADLINE_S} s reached after {done} of at least "
                  f"{wanted} measured passes")
        return {}

    # ---------------------------------------------------------- traced run
    def traced(self, start_s, floors, progress) -> dict:
        """Alternate untraced and traced passes (so JVM warm-up drift
        falls on both alike), then run the layer probes and read the event
        log. The event log is on for the whole run; tracing toggles the
        spans, job tags and wrapped layer functions."""
        wl, tr = self.workload, self.tracer
        wrap = [(registry, "load_table", tracing.spanned(tr, "sources.load")),
                (sources, "write_parquet", tracing.spanned(tr, "sources.write"))]
        self.counts = {"released": 0, "storage_bytes": 0}
        plain, traced, t0 = [], [], time.perf_counter()
        while min(len(plain), len(traced)) < MIN_PASSES - 1 or time.perf_counter() - t0 < self.args.seconds:
            if time.perf_counter() - T_PROCESS > DEADLINE_S:
                break
            p = len(plain) + len(traced) + 1
            if p % 4 in (0, 1):  # U T T U U T T U ...: a linear drift cancels
                plain.append(self.one_pass(p, None))
                continue
            tr.enabled = True
            with tracing.patched(wrap):
                traced.append(self.one_pass(p, None))
            tr.enabled = False
        self.report.update(untraced_pass_samples=plain, traced_pass_samples=traced)
        if min(len(plain), len(traced)) < MIN_PASSES - 1:
            return self.cut_short(min(len(plain), len(traced)), MIN_PASSES - 1)
        n = len(traced)
        m: dict[str, float] = {}

        scan_s, _ = wl.scan_probe(self.spark)
        m["sources.scan_s"] = scan_s
        if isinstance(wl, workloads.Ingest):
            parse_s, kept = wl.parse_probe(self.spark)
            if kept != wl.truth["valid"]:
                self.fail(f"parse probe kept {kept} lines, expected {wl.truth['valid']}")
            m.update({"parse.s": parse_s - scan_s, "parse.rows_in": wl.input_rows,
                      "parse.rows_out": kept, "parse.kept_ratio": kept / wl.input_rows,
                      "sources.files_written": statistics.median(wl.files_written)})
            if not progress.wait_terminated(wl.drains):
                self.fail("streaming listener missed a query end")
            m.update(self.stream_metrics(progress.progress))
        else:
            self.attempted += 1
            t = time.perf_counter()
            if not wl.detect(self.spark):
                self.fail("cli detect failed")
            m["cli.detect_s"] = time.perf_counter() - t
        floors.append(machine.job_floor_s(self.spark))
        m["session.peak_rss_mb"] = machine.peak_rss_mb(self.jvm)
        self.stop_session()

        jobs, tasks = tracing.read_event_log(self.log_dir)
        layers, mismatched = tracing.attribute(tr, jobs, tasks)
        if mismatched:
            self.fail(f"{mismatched} tagged jobs fell outside their call's span")
        ex = layers.get("exec", tracing.Counters())
        io_layers = [c for k, c in layers.items() if k != "check"]
        exec_s = tr.total_seconds("exec.force") / n
        m.update({
            "session.start_s": start_s,
            "session.job_floor_s": statistics.median(floors),
            "sources.load_s": tr.total_seconds("sources.load") / n,
            "sources.input_bytes": sum(c.input_bytes for c in io_layers) / n,
            "sources.write_s": tr.total_seconds("sources.write") / n,
            "sources.output_bytes": sum(c.output_bytes for c in io_layers) / n,
            "registry.build_s": tr.total_seconds("registry.build") / n,
            "registry.build_jobs": layers.get("registry", tracing.Counters()).jobs / n,
            "exec.s": exec_s,
            "exec.jobs": ex.jobs / n,
            "exec.stages": len(ex.stages) / n,
            "exec.tasks": ex.tasks / n,
            "exec.task_s": ex.task_ms / 1000 / n,
            "exec.cpu_s": ex.cpu_ns / 1e9 / n,
            "exec.gc_s": ex.gc_ms / 1000 / n,
            "exec.core_busy_ratio": ex.task_ms / 1000 / n / (exec_s * self.cores) if exec_s else 0.0,
            "exec.shuffle_read_bytes": ex.shuffle_read / n,
            "exec.shuffle_write_bytes": ex.shuffle_write / n,
            "exec.spill_bytes": ex.spill / n,
            "caching.released": self.counts["released"] / n,
            "caching.release_s": tr.total_seconds("caching.release") / n,
            "caching.storage_bytes": self.counts["storage_bytes"] / n,
            "cli.parse_s": tr.total_seconds("cli.parse") / n,
            "trace.overhead_ratio": statistics.median(traced) / statistics.median(plain),
        })
        for layer, secs in tr.self_seconds().items():
            m[f"self.{layer}_s"] = secs / n
        if isinstance(wl, workloads.Ingest):
            m["baseline.local1_rows_per_s"] = self.local1_baseline()

        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tr.dump(os.path.join(trace_dir, f"{tr.run_id}.spans.json"))
        self.report.update(
            job_floor_samples=floors,
            spark_counters={k: {**v.__dict__, "stages": len(v.stages)} for k, v in layers.items()},
            per_layer=m,
        )
        return {k: m.get(k, 0.0) for k in PER_LAYER}

    def stream_metrics(self, progress: list[dict]) -> dict:
        """Per-trigger phases of the drains made in traced passes."""
        drains = [s for s in self.tracer.spans if s.name == "stream.drain"]
        mine = [p for p in progress if any(d.start <= p["start"] <= d.end for d in drains)]
        last: dict[str, dict] = {}
        for p in mine:
            last[p["id"]] = p
        batches = [p for p in mine if p["rows"] > 0]
        out = {"stream.batches": len(batches) / len(drains),
               "stream.rows_per_batch": statistics.mean(p["rows"] for p in batches)}
        for key, phase in STREAM_PHASES.items():
            out[f"stream.{key}"] = statistics.mean(p["ms"].get(phase, 0) for p in batches)
        out["stream.state_rows"] = statistics.mean(p["state_rows"] for p in last.values())
        out["stream.state_bytes"] = statistics.mean(p["state_bytes"] for p in last.values())
        ends = sorted(d.end for d in drains)
        lasts = sorted(p["start"] + p["ms"].get("triggerExecution", 0) / 1000 for p in last.values())
        out["stream.tail_s"] = statistics.mean(e - t for e, t in zip(ends, lasts))
        rows = sum(p["rows"] for p in mine)
        if rows != len(drains) * self.workload.input_rows:
            self.fail(f"traced drains read {rows} rows, expected "
                      f"{len(drains)} x {self.workload.input_rows}")
        return out

    def local1_baseline(self) -> float:
        """Single-thread baseline: one batch ETL on a local[1] session."""
        self.set_up(master="local[1]")
        self.attempted += 1
        t = time.perf_counter()
        out = self.workload.call(self.spark, self.tracer, "etl")
        dt = time.perf_counter() - t
        if not self.workload.check(self.spark, "etl", out):
            self.fail("local[1] baseline ETL differs from the ground truth")
        self.stop_session()
        return self.workload.input_rows / dt


def storage_bytes(spark) -> int:
    """Bytes the block manager holds for cached data right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # Every JVM the launch starts keeps its temp files in the checkout;
    # PerfDisableSharedMem keeps the JVM's perf counters off /tmp.
    # TieredStopAtLevel=1 (C1 only): with C2 the JIT keeps compiling for
    # minutes, so pass times still drift by a quarter through a one-minute
    # run and where they end differs from run to run (README, Steadiness).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:+PerfDisableSharedMem -XX:TieredStopAtLevel=1 "
        f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CORES, machine.cores()))

    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, work)
    with contextlib.ExitStack() as cleanup:  # every step runs, last-in first
        cleanup.callback(shutil.rmtree, work, ignore_errors=True)
        cleanup.callback(shutdown_jvm)
        cleanup.callback(run.stop_session)
        metrics = run.run()
    correct = run.failed == 0
    print(json.dumps({"report": run.report}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": labelled(metrics),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
