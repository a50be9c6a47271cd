"""Lakehouse benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in one process on ``local[nproc]`` with one client in a
closed loop: each op is issued only after the previous one returned. A
run is set-up (session start, registry import, inputs, and one untimed
pass that runs every op cold, builds the model caches and checks every
result against DuckDB), then timed passes until ``--seconds`` have been
measured, at least four. Every op's result is checked outside the timed
region; a wrong or failed op counts in ``failed``.

End-to-end metrics (``--trace 0``), per workload:
  setup_s        process start to the end of set-up (once per process:
                 JVM launch, first-run code generation and model builds
                 happen once)
  pass_s         a typical pass: the sum over ops of each op's median
  cpu_s          median CPU seconds per pass of the driver, the JVM and
                 the Python workers, from /proc
  stored_bytes_per_live_byte
                 bytes on disk per byte of the live rows written once as
                 one zstd parquet file (the table after a DML pass; the
                 input tables for reads)
The three times are scaled to a reference host speed by a probe run
between ops (``perfbench/hostspeed.py``); the times as measured, the
probe and the factors are in the ``# detail`` line on stderr.

``--trace 1`` traces the timed passes and reports the per-layer metrics
(medians over passes) instead, with the tracer's own time per pass as
``trace_overhead_s``; compare ``traced_pass_s`` (as measured, not
scaled) with an untraced run's measured ``pass_s`` in its detail line for
the whole overhead. Details go to stderr; spans are
written under ``.perfbench_work/`` in the checkout, where all run files
live."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))  # run as a script: make perfbench and the engine importable

from perfbench.hostspeed import REFERENCE_CPU_S, REFERENCE_WALL_S, Probe, speed_factor  # noqa: E402
from perfbench.procfs import (  # noqa: E402
    PeakRss,
    host_steal_s,
    process_age_s,
    process_tree,
    sample_tree,
)
from perfbench.stats import (  # noqa: E402
    highest_supported_quantile,
    percentile,
    self_times,
    union_length,
)
from perfbench.trace import Tracer  # noqa: E402

WORK = ROOT / ".perfbench_work"
# After the cold pass the JIT still compiles and the first timed pass can
# run ~30% slower, and other guests on the host take CPUs away in bursts
# of seconds; the per-op median over four passes leaves out one such. A
# fifth pass did not narrow the spread between runs on a 4-vCPU VM: that
# comes from the host, and the probe scaling is what narrows it.
MIN_PASSES = 4


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def start_session(run_dir: Path, cores: int):
    """The engine's own session factory, with every temporary location the
    JVM and the workers use inside ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "spark-warehouse")
    from minio_iceberg_polaris_lakehouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for the JVM and its workers."""
    children = [p.pid for p in process_tree(os.getpid()) if p.pid != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [pid for pid in children if os.path.exists(f"/proc/{pid}")]
        if not alive:
            return
        for pid in alive:  # reap any direct child left as a zombie
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


class Run:
    """One workload run: timings, checks and (when traced) layer counters."""

    def __init__(self, spark, workload, seed: int, trace: bool, probe: Probe):
        from perfbench import workloads

        self.spark = spark
        self.wl = workload
        self.rng = random.Random(seed)
        self.trace = trace
        self.caches = workloads.MODEL_CACHES
        self.cache_readers = workloads.CACHE_READERS
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.pass_index = 0
        self.probe = probe
        self.probing = False  # set once the cold pass is done
        self.probes: list[tuple[float, float]] = []  # host speed, sampled between timed ops

    def run_pass(self) -> dict:
        """Run one pass; returns its op latencies and, when traced, counters."""
        ops = self.wl.begin_pass(self.pass_index, self.rng)
        self.pass_index += 1
        latencies: list[float] = []
        names: list[str] = []
        layer = Counter()
        tree0 = sample_tree(os.getpid(), self.probe.pids)
        steal0 = host_steal_s()
        book0 = self.tracer.bookkeeping_s if self.tracer else 0.0
        for i, op in enumerate(ops):
            op_id = f"p{self.pass_index}-{i}-{op.name}"
            if self.probing:
                self.probes.append(self.probe.sample())
            before = {k: size() for k, size in self.caches.items()}
            result, problem, seconds, counters = self._run_op(op, op_id)
            latencies.append(seconds)
            names.append(op.name)
            self.attempted += 1
            if problem is None:
                try:
                    problem = op.check(result)
                except Exception as e:  # a check that cannot run is a failed op
                    problem = f"{op.name}: check raised {type(e).__name__}: {e}"
            if problem is not None:
                self.failed += 1
                log(f"# FAILED {op_id}: {problem}")
            builds = sum(size() - before[k] for k, size in self.caches.items())
            layer["model_cache_builds"] += builds
            cache = self.cache_readers.get(op.name)
            if cache is not None and self.caches[cache]() == before[cache]:
                layer["model_cache_hits"] += 1
            if counters is not None:
                self._add_counters(layer, op_id, counters, seconds)
                self._count_scans(layer, counters, result)
                self.wl.observe()
        tree1 = sample_tree(os.getpid(), self.probe.pids)
        out = {
            "latencies": latencies,
            "names": names,
            "busy_s": sum(latencies),
            "cpu_s": tree1.cpu_s - tree0.cpu_s,
            "steal_s": host_steal_s() - steal0,
            "py_worker_cpu_s": tree1.py_worker_cpu_s - tree0.py_worker_cpu_s,
            "layer": layer,
        }
        if self.tracer is not None:
            layer["trace_overhead_s"] = self.tracer.bookkeeping_s - book0
        out.update(self.wl.end_pass(self.tracer is not None))
        return out

    def _run_op(self, op, op_id: str):
        """Time one op: build, then fetch. When traced, each step is a span
        and the op's jobs run under their own job group."""
        tr = self.tracer

        def span(name):
            return tr.span(name) if tr is not None and name else contextlib.nullcontext()

        df = fetch_start_ms = None
        if tr is not None:
            tr.begin_op(op_id, op.name)
        t0 = time.perf_counter()
        try:
            with span("op"):
                with span(op.build_span):
                    result = df = op.build()
                if op.fetch is not None:
                    fetch_start_ms = time.time() * 1e3
                    with span("fetch"):
                        result = op.fetch(df)
            seconds = time.perf_counter() - t0
        except Exception as e:  # the closed loop keeps going; the op counts as failed
            log(traceback.format_exc())
            return None, f"{op.name}: raised {type(e).__name__}: {e}", time.perf_counter() - t0, None
        counters = None
        if tr is not None:
            counters = tr.end_op(df if hasattr(df, "_jdf") else None, fetch_start_ms)
        return result, None, seconds, counters

    def _add_counters(self, layer: Counter, op_id: str, c, seconds: float) -> None:
        spans = self.tracer.op_spans(op_id)
        offset = time.time() - time.perf_counter()  # epoch → perf_counter
        jobs = [(s - offset, e - offset) for s, e in c.job_intervals]
        for s in spans:
            dur = s.end - s.start
            if s.name == "build":
                layer["build_s"] += dur
            elif s.name == "sql_frontend":
                inside = union_length((max(a, s.start), min(b, s.end)) for a, b in jobs)
                layer["frontend_s"] += dur - inside
            elif s.name == "iceberg_export":
                layer["export_s"] += dur
                layer["export_calls"] += 1
            elif s.name == "iceberg_reader":
                layer["foreign_plan_s"] += dur
            elif s.name == "fsio":
                layer["fsio_s"] += dur
                layer["fsio_calls"] += 1
        layer["build_jobs"] += c.build_jobs
        layer["jobs"] += c.jobs
        layer["stages"] += c.stages
        layer["tasks"] += c.tasks
        layer["job_span_s"] += c.job_span_s
        layer["driver_idle_s"] += max(0.0, seconds - c.job_span_s)
        for phase, ms in c.phases_ms.items():
            layer[f"{phase}_ms"] += ms
        for name, value in c.stage_totals.items():
            layer[name] += value

    @staticmethod
    def _count_scans(layer: Counter, c, result) -> None:
        """Rows scanned per row returned, over the ops that return a
        result set (read queries)."""
        if isinstance(result, tuple) and len(result) == 2 and isinstance(result[1], list):
            layer["rows_scanned"] += c.stage_totals.get("input_records", 0)
            layer["rows_returned"] += len(result[1])

    def install_tracer(self) -> None:
        from minio_iceberg_polaris_lakehouse_spark import fsio, iceberg_export
        from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

        tr = self.tracer = Tracer(self.spark)
        tr.wrap(LakehouseSQL, "sql", "sql_frontend")
        tr.wrap(iceberg_export, "write_iceberg_metadata", "iceberg_export")
        for name in FSIO_CALLS:
            tr.wrap(fsio, name, "fsio")


# fsio's file-system calls; on MinIO/S3 each would be one request
FSIO_CALLS = (
    "exists", "isfile", "isdir", "listdir", "makedirs", "walk", "getsize", "getmtime",
    "remove", "rmtree", "rename", "replace", "read_text", "read_bytes", "open_binary",
    "write_bytes", "write_bytes_atomic", "try_create_exclusive", "restore_renamed_lock",
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "stored_bytes_per_live_byte": "ratio",
}
PER_LAYER_UNITS = {
    "build_s": "s", "build_jobs": "count",
    "analysis_ms": "ms", "optimization_ms": "ms", "planning_ms": "ms",
    "jobs": "count", "stages": "count", "tasks": "count",
    "job_span_s": "s", "driver_idle_s": "s", "slot_util": "ratio",
    "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
    "rows_scanned_per_row_returned": "ratio",
    "py_worker_cpu_s": "s",
    "model_cache_builds": "count", "model_cache_hits": "count",
    "frontend_s": "s",
    "commits": "count", "data_files_live": "count", "write_amp": "ratio",
    "export_s": "s", "export_calls": "count", "metadata_bytes": "bytes",
    "foreign_plan_s": "s",
    "fsio_calls_per_commit": "count", "fsio_s": "s",
    "peak_rss_mb": "MB",
    "traced_pass_s": "s", "trace_overhead_s": "s",
}


def layer_values(p: dict, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    layer = p["layer"]
    v = {name: float(layer.get(name, 0.0)) for name in PER_LAYER_UNITS}
    for name in ("commits", "data_files_live", "metadata_bytes", "write_amp"):
        v[name] = p.get(name, 0.0)
    v["py_worker_cpu_s"] = p["py_worker_cpu_s"]
    v["traced_pass_s"] = p["busy_s"]
    v["peak_rss_mb"] = 0.0  # a whole-run figure, set by the caller
    if layer["job_span_s"] > 0:
        v["slot_util"] = layer["exec_run_s"] / (layer["job_span_s"] * cores)
    if layer["rows_returned"] > 0:
        v["rows_scanned_per_row_returned"] = layer["rows_scanned"] / layer["rows_returned"]
    if v["commits"] > 0:
        v["fsio_calls_per_commit"] = layer["fsio_calls"] / v["commits"]
    return v


def measure(spark, wl, args, cores: int, run_dir: Path, probe: Probe) -> dict:
    run = Run(spark, wl, args.seed, args.trace == 1, probe)
    wl.prepare(spark, run_dir, WORK)
    cold = run.run_pass()  # every op cold once, checked against DuckDB
    setup_s = process_age_s()
    log(f"# setup {setup_s:.2f}s; cold pass {cold['busy_s']:.2f}s; "
        f"model cache builds {cold['layer']['model_cache_builds']}")
    run.probing = True
    if run.trace:
        run.install_tracer()
    passes = []
    t0 = time.perf_counter()
    try:
        with PeakRss(os.getpid(), exclude=probe.pids) as rss:
            while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
                passes.append(run.run_pass())
    finally:
        if run.tracer is not None:
            run.tracer.close()
    latencies = [x for p in passes for x in p["latencies"]]
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for name, x in zip(p["names"], p["latencies"]):
            per_op.setdefault(name, []).append(x)
    detail = {
        "passes": len(passes),
        "pass_busy_s": [round(p["busy_s"], 3) for p in passes],
        "pass_host_steal_s": [round(p["steal_s"], 2) for p in passes],
        "ops": len(latencies),
        "op_p50_s": statistics.median(latencies),
        "cold_op_s": dict(zip(cold["names"], cold["latencies"])),
        "op_median_s": {k: statistics.median(v) for k, v in per_op.items()},
        "op_geomean_s": statistics.geometric_mean(statistics.median(v) for v in per_op.values()),
        "op_latencies_s": {k: [round(x, 3) for x in v] for k, v in per_op.items()},
        "probe_median_wall_s": statistics.median(w for w, _ in run.probes),
        "probe_median_cpu_s": statistics.median(c for _, c in run.probes),
        "wall_factor": speed_factor([w for w, _ in run.probes], REFERENCE_WALL_S),
        "cpu_factor": speed_factor([c for _, c in run.probes], REFERENCE_CPU_S),
    }
    q = highest_supported_quantile(len(latencies))
    if q is not None:
        detail[f"op_p{q * 100:.0f}_s"] = percentile(latencies, q)
    if run.trace:
        spans_path = WORK / f"spans-{args.workload}-{args.seed}.jsonl"
        run.tracer.dump(str(spans_path))
        detail["self_s_per_pass"] = {
            k: v / len(passes) for k, v in sorted(self_times(run.tracer.spans).items())
        }
        layers = [layer_values(p, cores) for p in passes]
        metrics = {k: statistics.median(v[k] for v in layers) for k in PER_LAYER_UNITS}
        metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
        if metrics["shuffle_write_bytes"] > 0 and metrics["shuffle_read_bytes"] == 0:
            log("# WARNING shuffle_read_bytes reads 0 while shuffle is written")
        units = PER_LAYER_UNITS
    else:
        op_median = detail["op_median_s"]
        seconds = {
            "setup_s": setup_s,
            # a typical pass: each op at its median over the timed passes
            "pass_s": sum(op_median.values()),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        }
        detail["measured_s"] = seconds
        # as on the reference host: the host's speed swings between runs
        metrics = {k: v * detail["wall_factor"] for k, v in seconds.items()}
        metrics["cpu_s"] = seconds["cpu_s"] * detail["cpu_factor"]
        metrics["stored_bytes_per_live_byte"] = statistics.median(
            p["stored_bytes_per_live_byte"] for p in passes
        )
        units = END_TO_END_UNITS
    log("# detail " + json.dumps(detail))
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "minio_iceberg_polaris_lakehouse_spark").is_dir():
        log(f"# no engine package under {ROOT}; run from a checkout of the repository")
        return 2
    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    spark = None
    try:
        run_dir.mkdir(parents=True)
        spark = start_session(run_dir, cores)  # sets TMPDIR before the engine imports
        from perfbench import workloads

        if args.workload not in workloads.WORKLOADS:
            log(f"# unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
            return 2
        if not os.path.isdir(workloads.SF01_DIR):
            log(f"# input directory {workloads.SF01_DIR} is missing")
            return 2
        with Probe(cores) as probe:
            result = measure(spark, workloads.WORKLOADS[args.workload](), args, cores, run_dir, probe)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
