"""Per-layer metrics from the traced pass.

Unless a unit says otherwise, a metric is a mean per operation of the
traced pass (``/op``).  ``op_tail_s``, ``readback_p50_s``,
``ingest_rows_per_s`` and ``host.cpu_steal_share`` come from the same
run's untraced timed passes instead.  Layers are the program's modules: ``workloads``
(registry call), ``engine`` (Engine.query/search/suggest), ``query``
(parser and apply pipeline), ``model`` (session_binding memo), ``sources``
(RESP parser and storage layout) and ``spark`` (the runtime below them:
planning, jobs, task metrics).  ``bench`` is the benchmark loop itself.

Job-group attribution: the registry call runs in an op's ``build`` group,
so its jobs are the eager jobs; every other group (``sink``, ``write``,
``summary``, ``readback``) is execution.
"""

from __future__ import annotations

from perfbench.measure import layer_of, median, self_times

MB = 1024.0 * 1024.0
LAYERS = ("bench", "workloads", "engine", "query", "model", "sources", "spark")
STREAM = ("addBatch", "getBatch", "queryPlanning", "walCommit", "triggerExecution")

# name -> unit, in report order (BENCHMARK.json lists the same names)
UNITS = {
    "workloads.build_s": "s/op",
    "workloads.py4j_calls": "count/op",
    "workloads.eager_jobs": "count/op",
    "workloads.eager_s": "s/op",
    "workloads.eager_task_s": "s/op",
    "engine.build_s": "s/op",
    "engine.py4j_calls": "count/op",
    "query.parse_s": "s/op",
    "query.apply_s": "s/op",
    "model.binding_hits": "count/op",
    "model.binding_calls": "count/op",
    "spark.plan_s": "s/op",
    "spark.exec_s": "s/op",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.task_run_s": "s/op",
    "spark.task_cpu_s": "s/op",
    "spark.slot_util": "ratio",
    "spark.input_rows": "count/op",
    "spark.input_mb": "MB/op",
    "spark.shuffle_read_mb": "MB/op",
    "spark.shuffle_write_mb": "MB/op",
    "spark.spill_mb": "MB/op",
    "spark.peak_exec_mem_mb": "MB",
    "spark.gc_s": "s/op",
    "sources.write_s": "s/write",
    "sources.files_written": "count/write",
    "sources.bytes_written": "MB/write",
    "sources.rows_accepted": "count/write",
    "sources.pdus_in": "count/write",
    "sources.summary_update_s": "s/write",
    "sources.sync_s": "s/write",
    "sources.files_scanned": "count/read",
    "streaming.batches": "count/op",
    **{f"streaming.{p}_ms": "ms/op" for p in STREAM},
    **{f"{layer}.self_s": "s/op" for layer in LAYERS},
    "ingest_rows_per_s": "rows/s",
    "readback_p50_s": "s",
    "bytes_stored_per_user_byte": "ratio",
    "fail_ratio": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
    "op_tail_s": "s",
    "op_tail_percentile": "percentile",
    "op_tail_n": "count",
    "host.cpu_steal_share": "ratio",
}


def _span_sum(spans, prefix: str, key: str | None = None) -> float:
    """Summed duration (or ``counts[key]``) of spans named ``prefix*``."""
    total = 0.0
    for s in spans:
        if s.name.startswith(prefix):
            total += s.counts.get(key, 0) if key else s.end - s.start
    return total


def per_layer(runner, layer: dict, rss_kb: int) -> dict:
    ops = runner.traced_ops
    n = max(len(ops), 1)
    spans = layer["spans"]
    build = [op["groups"].get("build", {}) for op in ops]
    execs = [g for op in ops for ph, g in op["groups"].items() if ph != "build"]

    def tot(groups, key):
        return sum(g.get(key, 0) for g in groups)

    eager_s = tot(build, "job_ms") / 1e3
    exec_s = tot(execs, "job_ms") / 1e3
    task_run_s = tot(execs, "task_run_ms") / 1e3
    cores = runner.cores
    writes = [op for op in ops if op["name"] == "ingest.write"]
    reads = [op for op in ops if op["name"].startswith("readback.")]
    nw, nr = max(len(writes), 1), max(len(reads), 1)
    selfs: dict[str, float] = {}
    for name, t in self_times(spans).items():
        selfs[layer_of(name)] = selfs.get(layer_of(name), 0.0) + t
    bindings = [s for s in spans if s.name == "model.session_binding"]
    timed = runner.timed
    untraced = timed[: len(runner.untraced_times)]
    read_times = [dt for name, dt in untraced if name.startswith("readback.")]
    write_s = [dt for name, dt in untraced if name == "ingest.write"]
    tail_p, tail_n, tail = runner.tail
    w = runner.w
    stored = runner.ctx.bytes_stored
    values = {
        "workloads.build_s": (_span_sum(spans, "workloads.call") - eager_s) / n,
        "workloads.py4j_calls": _span_sum(spans, "workloads.call", "py4j_calls") / n,
        "workloads.eager_jobs": tot(build, "jobs") / n,
        "workloads.eager_s": eager_s / n,
        "workloads.eager_task_s": tot(build, "task_run_ms") / 1e3 / n,
        "engine.build_s": _span_sum(spans, "engine.") / n,
        "engine.py4j_calls": _span_sum(spans, "engine.", "py4j_calls") / n,
        "query.parse_s": _span_sum(spans, "query.parse") / n,
        "query.apply_s": _span_sum(spans, "query.apply") / n,
        "model.binding_hits": sum(s.counts.get("binding_hit", 0) for s in bindings) / n,
        "model.binding_calls": len(bindings) / n,
        "spark.plan_s": sum(op.get("plan_ms", 0) for op in ops) / 1e3 / n,
        "spark.exec_s": exec_s / n,
        "spark.jobs": tot(execs, "jobs") / n,
        "spark.stages": tot(execs, "stages") / n,
        "spark.tasks": tot(execs, "tasks") / n,
        "spark.task_run_s": task_run_s / n,
        "spark.task_cpu_s": tot(execs, "task_cpu_ns") / 1e9 / n,
        "spark.slot_util": task_run_s / (exec_s * cores) if exec_s else 0.0,
        "spark.input_rows": tot(execs, "input_rows") / n,
        "spark.input_mb": tot(execs, "input_bytes") / MB / n,
        "spark.shuffle_read_mb": tot(execs, "shuffle_read_bytes") / MB / n,
        "spark.shuffle_write_mb": tot(execs, "shuffle_write_bytes") / MB / n,
        "spark.spill_mb": (tot(execs, "spill_mem_bytes") + tot(execs, "spill_disk_bytes"))
        / MB
        / n,
        "spark.peak_exec_mem_mb": max((g.get("peak_exec_mem_bytes", 0) for g in execs), default=0)
        / MB,
        "spark.gc_s": tot(execs, "gc_ms") / 1e3 / n,
        "sources.write_s": _span_sum(spans, "sources.write_samples") / nw,
        "sources.files_written": sum(op.get("files_written", 0) for op in writes) / nw,
        "sources.bytes_written": sum(op.get("bytes_written", 0) for op in writes) / MB / nw,
        "sources.rows_accepted": median(runner.ctx.rows_accepted) / nw if writes else 0.0,
        "sources.pdus_in": getattr(w, "pdus_in", 0) / nw if writes else 0.0,
        "sources.summary_update_s": _span_sum(spans, "sources.update_summary") / nw,
        "sources.sync_s": median(runner.sync_s) if writes else 0.0,
        "sources.files_scanned": sum(op.get("files_scanned", 0) for op in reads) / nr,
        "streaming.batches": layer["stream"]["batches"] / n,
        **{f"streaming.{p}_ms": layer["stream"][p] / n for p in STREAM},
        **{f"{lay}.self_s": selfs.get(lay, 0.0) / n for lay in LAYERS},
        "ingest_rows_per_s": getattr(w, "rows_in", 0) / sum(write_s) * len(runner.pass_walls)
        if write_s
        else 0.0,
        "readback_p50_s": median(read_times),
        "bytes_stored_per_user_byte": median(stored) / w.user_bytes if stored else 0.0,
        "fail_ratio": len(runner.failed) / max(len(timed), 1),
        "trace.wall_s": runner.traced_wall,
        "trace.overhead_s": runner.traced_wall - median(runner.pass_walls),
        "peak_rss_mb": rss_kb / 1024.0,
        "op_tail_s": tail,
        "op_tail_percentile": tail_p,
        "op_tail_n": tail_n,
        "host.cpu_steal_share": runner.steal_share,
    }
    return {k: {"value": float(values[k]), "unit": UNITS[k]} for k in UNITS}
