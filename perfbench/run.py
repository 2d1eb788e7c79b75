#!/usr/bin/env python3
"""Layered benchmark for stdb_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 5 --trace 0

Workloads (perfbench/workloads.py): pipeline_batch and ingest_readback,
the two BENCHMARK.json lists, and tsdb_queries, which runs the same way
but is left out of BENCHMARK.json so that repeated runs of the listed
workloads fit a fixed time budget.  Load shape: a closed loop, one client
in one process; the next operation starts when the previous one returns.
Spark runs on local[$SPARK_GRAFT_CPUS] (default: the CPU count).

One run:
1. setup (timed as ``setup_s``): start the Spark session, generate the
   seeded inputs, run WARM_PASSES warm passes of every operation, so
   caches, derived artifacts, lazy bindings and JIT-compiled code are in
   place before timing;
2. timed passes, tracing off, until ``--seconds`` have elapsed and at
   least MIN_PASSES passes ran (whole passes only): every operation once
   per pass, in seeded order; a traced run goes on until TAIL_MIN_OPS
   operations ran, for ``op_tail_s``.  ``--trace 1`` then adds one
   traced pass with the span wrappers, py4j counter, job groups and
   streaming listener installed; the per-layer metrics come from it,
   and the tracing overhead ``trace.overhead_s`` is its wall time minus
   the median untraced pass of the same run;
3. an untimed validation pass comparing every timed operation's output
   with the DuckDB oracle (registry workloads) or the generator's ground
   truth (ingest_readback).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  ``op_tail_s`` is per-layer, not
end-to-end: an untraced run has too few operations for a percentile
above the median with ten samples beyond it, so only the traced run,
which takes TAIL_MIN_OPS of them, reports it (p75 at n=40), with the
percentile and ``n`` beside it.  Everything the run writes lives
under perfbench/.work/ and the derived-artifact cache entries of its own
inputs; all of it is deleted before exit.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

# the run leaves no bytecode caches behind, in this process or in the
# Python workers Spark starts, so every run compiles the same sources
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Untimed warm passes before timing: after one pass the JIT is still
# compiling and operations keep getting faster pass by pass.
WARM_PASSES = 2
# Timed passes per untraced run, at least: each operation's latency is
# sampled this many times, so one slow pass moves a median little.
MIN_PASSES = 3
# Timed operations a traced run takes before its traced pass, at least:
# with 40 samples op_tail_s is p75 with ten samples beyond it.
TAIL_MIN_OPS = 40

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class NullTracer:
    op = 0

    def span(self, name):
        return contextlib.nullcontext()


class Context:
    """What an operation needs: the session, its inputs, the tracer and a
    job-group setter that is a no-op outside the traced pass."""

    def __init__(self, spark, data_dir: str) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = NullTracer()
        self.traced = False
        self.op_id = 0
        self.pass_no = 0
        self.last_df = None
        self.phases: set[str] = set()
        self.rows_accepted: list[int] = []
        self.bytes_stored: list[int] = []

    def job_group(self, phase: str | None) -> None:
        if not self.traced:
            return
        sc = self.spark.sparkContext
        if phase is None:
            sc.setJobGroup(None, None)
        else:
            self.phases.add(phase)
            sc.setJobGroup(f"pb:{self.op_id}:{phase}", phase)


def start_session(work: str):
    from stdb_spark import model
    from stdb_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "perfbench",
        extra_conf={
            # the library default heap (12g) is sized for sf0.1+; these
            # inputs are small and the machine may be shared
            "spark.driver.memory": "3g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    model.ensure_session_confs(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.data_dir = os.path.join(work, f"{workload.name}-s{seed}")
        self.timed: list[tuple[str, float]] = []  # (op name, seconds) per timed op
        self.pass_walls: list[float] = []
        self.outputs: list[tuple[tuple, object, object]] = []  # (op, check, key)
        self.failed: dict[tuple, str] = {}  # (pass, position) -> op name
        self.sync_s: list[float] = []
        self.traced_ops: list[dict] = []

    # ---------------------------------------------------------------- passes
    def run_pass(self, ctx, record: bool, harvest=None) -> float:
        ops = self.w.ops(ctx, self.seed)
        wall = 0.0
        for pos, (name, op) in enumerate(ops):
            where = (ctx.pass_no, pos, name)
            ctx.op_id += 1
            ctx.tracer.op = ctx.op_id
            ctx.last_df = None
            ctx.phases = set()
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("bench.op"):
                    check, result = op()
                ok = True
            except Exception:  # noqa: BLE001 — one failing op must not end the run
                ok = False
                check = result = None
                ctx.job_group(None)
                print(f"{name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            dt = time.perf_counter() - t0
            wall += dt
            log(f"pass {ctx.pass_no} {name:36s} {dt:8.3f} s")
            if record:
                self.timed.append((name, dt))
                if not ok:
                    self.failed[where] = name
                elif check is not None:
                    self.outputs.append((where, check, self.w.result_key(result)))
            if name in self.w.write_steps:
                # flush policy: a write step's dirty pages go to disk before
                # the next operation starts, outside its timing, so a later
                # read never pays for an earlier write's writeback
                t1 = time.perf_counter()
                os.sync()
                self.sync_s.append(time.perf_counter() - t1)
            if harvest is not None:
                harvest(ctx, name, dt)
        verdicts = self.w.end_pass(ctx, ctx.pass_no, check=record)
        if record:
            for pos, (name, _) in enumerate(ops):
                if verdicts.get(name, True) is False:
                    self.failed[(ctx.pass_no, pos, name)] = name
        return wall

    # ----------------------------------------------------------------- run
    def run(self) -> dict:
        from perfbench import measure, sparkstats

        t0 = time.perf_counter()
        spark = start_session(self.work)
        try:
            ctx = self.ctx = Context(spark, self.data_dir)
            self.cores = spark.sparkContext.defaultParallelism
            log(f"session started in {time.perf_counter() - t0:.3f} s")
            self.w.generate(self.data_dir, self.seed)
            log(f"inputs generated at {time.perf_counter() - t0:.3f} s")
            for _ in range(WARM_PASSES):
                self.run_pass(ctx, record=False)
                ctx.pass_no += 1
            setup_s = time.perf_counter() - t0

            steal0 = measure.cpu_steal()
            t_start = time.perf_counter()
            while (
                len(self.pass_walls) < MIN_PASSES
                or time.perf_counter() - t_start < self.seconds
                or (self.trace and len(self.timed) < TAIL_MIN_OPS)
            ):
                ctx.pass_no += 1
                self.pass_walls.append(self.run_pass(ctx, record=True))
            steal1 = measure.cpu_steal()
            self.steal_share = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
            self.untraced_times = [dt for _, dt in self.timed]
            layer = self.traced_pass(ctx) if self.trace else None
            rss_py, rss_jvm = measure.read_vmhwm_kb(), measure.read_vmhwm_kb(sparkstats.jvm_pid(spark))
            log(f"peak RSS: python {rss_py / 1024:.0f} MB, JVM {rss_jvm / 1024:.0f} MB")
            rss_kb = rss_py + rss_jvm
            t1 = time.perf_counter()
            self.validate(ctx)
            log(f"validated in {time.perf_counter() - t1:.3f} s")
        finally:
            stop_session(spark)
        return self.report(setup_s, rss_kb, layer)

    def validate(self, ctx) -> None:
        expected = self.w.expected(ctx, {check for _, check, _ in self.outputs})
        for where, check, key in self.outputs:
            if key != expected[check]:
                self.failed[where] = where[2]

    # -------------------------------------------------------------- traced
    def traced_pass(self, ctx) -> dict:
        from perfbench import hooks, measure, sparkstats

        counter = measure.Py4JCounter().install()
        tracer = measure.Tracer(counter)
        listener = sparkstats.StreamPhases()
        ctx.spark.streams.addListener(listener)
        uninstall = hooks.install(tracer)
        ctx.tracer, ctx.traced = tracer, True

        def harvest(ctx, name, dt):
            rec = {"op": ctx.op_id, "name": name, "wall": dt, "groups": {}}
            for phase in sorted(ctx.phases):
                rec["groups"][phase] = sparkstats.group_metrics(
                    ctx.spark, f"pb:{ctx.op_id}:{phase}"
                )
            if ctx.last_df is not None:
                rec["plan_ms"] = sparkstats.plan_ms(ctx.last_df)
                rec["files_scanned"] = sparkstats.scan_files(ctx.last_df)
            self.w.after_op(ctx, name, rec)
            self.traced_ops.append(rec)

        ctx.pass_no += 1
        try:
            self.traced_wall = self.run_pass(ctx, record=True, harvest=harvest)
        finally:
            uninstall()
            counter.uninstall()
            ctx.tracer, ctx.traced = NullTracer(), False
        ctx.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        ctx.spark.streams.removeListener(listener)
        return {
            "spans": tracer.spans,
            "stream": listener.snapshot(),
        }

    # -------------------------------------------------------------- report
    def report(self, setup_s: float, rss_kb: int, layer) -> dict:
        from perfbench import layers, measure

        times = self.untraced_times
        attempted = len(self.timed)
        failed = len(self.failed)
        p, n, tail = measure.tail_percentile(times)
        self.tail = (p, n, tail)
        summary = {
            "workload": self.w.name,
            "seed": self.seed,
            "passes": len(self.pass_walls),
            "ops_per_pass": len(times) // max(len(self.pass_walls), 1),
            "op_tail_percentile": p,
            "op_tail_n": n,
            "op_tail_s": tail,
            "fail_ratio": failed / attempted,
            "host_cpu_steal_share": round(self.steal_share, 4),
            "failed_ops": sorted(set(self.failed.values())),
        }
        print("summary " + json.dumps(summary), file=sys.stderr)
        if self.trace:
            metrics = layers.per_layer(self, layer, rss_kb)
        else:
            values = {
                "setup_s": setup_s,
                "wall_s": measure.median(self.pass_walls),
                "op_p50_s": measure.median(times),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        for k, m in metrics.items():
            print(f"{k:32s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }


def clean_cache(tag: str) -> None:
    """Remove the derived-artifact cache entries the registry built for
    inputs whose directory name is ``tag`` (stdb_spark.model.
    derived_cache_path names them ``<artifact>_<dir name>_<hash>``)."""
    for path in glob.glob(os.path.join(ROOT, ".cache", f"*_{glob.escape(tag)}_*")):
        shutil.rmtree(path, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and deletes what it wrote
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import stdb_spark  # noqa: F401
    except ImportError as exc:
        print(f"stdb_spark is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (the launcher and the driver) keeps its
    # temporary files in the run's directory and writes no perf data
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    runner = Runner(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    tag = os.path.basename(runner.data_dir)
    clean_cache(tag)
    try:
        out = runner.run()
    finally:
        clean_cache(tag)
        shutil.rmtree(work, ignore_errors=True)
        for empty in (os.path.join(HERE, ".work"), os.path.join(ROOT, ".cache")):
            with contextlib.suppress(OSError):
                os.rmdir(empty)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
