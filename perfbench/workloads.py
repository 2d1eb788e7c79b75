"""The benchmark's three workloads (BENCHMARK.json gates pipeline_batch and
ingest_readback; tsdb_queries runs the same way but is not gated, to keep
the gated runs within their time budget).

Each workload generates its inputs from the seed, then exposes one pass
as a list of operations in seeded order.  An operation is a closure the
runner times end to end; it returns ``(check, result)`` where ``check``
is the key the validation pass compares ``result`` under.

- ``tsdb_queries``: registry entries that go through
  ``Engine.query/search/suggest`` (the JSON query language), over ten
  seeded copies of the sf0.01 events table (the sf0.1 row count).
  Execution dominates.
- ``pipeline_batch``: LLM-pipeline and graph registry entries over two
  seeded copies of the sf0.01 tables, where the driver-side build (py4j
  Column construction, eager size-dispatch and checkpoint jobs,
  streaming replays) dominates.
- ``ingest_readback``: RESP batches parsed and appended to the storage
  layout, an incremental summary update per batch, and Engine read-backs
  of the newest day and the full range over ``storage.read_samples``.
"""

from __future__ import annotations

import glob
import os
import random
import shutil

from perfbench import gen

# 40 tssuite entries call Engine.query/search/suggest (found by wrapping
# those methods while building every tssuite entry).  The measured subset
# takes one per query kind: select over the storage layout, select-events,
# aggregate answered from summaries, group-aggregate-join, join/pivot,
# search and an apply pipeline; all 40 do not fit a run's time budget.
TSDB_ENTRIES = (
    "ts_select_partitioned_layout",
    "ts_select_events_regex",
    "ts_aggregate_summary_pushdown",
    "ts_group_aggregate_join",
    "ts_join_pivot",
    "ts_search_regex",
    "ts_ewma",
)
TSDB_COPIES = 10

# Driver-heavy entries: a py4j-heavy build (LSH hyperplanes as literal
# arrays), eager-job iterative operators (connected components over
# MinHash candidates, PageRank) and a streaming replay.
PIPELINE_ENTRIES = (
    "emb_ann_lsh",
    "doc_dedup_clusters",
    "rel_supplier_pagerank",
    "stream_resp_events",
)
PIPELINE_COPIES = 2

INGEST_BATCHES = 2
INGEST_PDUS = 25_000


class RegistryWorkload:
    """Registry entries run as ``entry(spark, data_dir).toPandas()``."""

    write_steps = ()

    def __init__(self, name: str, entries: tuple[str, ...], copies: int, tables) -> None:
        self.name = name
        self.entries = entries
        self.copies = copies
        self.tables = tuple(tables)

    def generate(self, data_dir: str, seed: int) -> None:
        gen.generate(data_dir, seed, self.copies, self.tables)

    def order(self, seed: int) -> list[str]:
        names = list(self.entries)
        random.Random(seed).shuffle(names)
        return names

    def ops(self, ctx, seed: int) -> list[tuple[str, object]]:
        from stdb_spark.workloads import QUERIES

        def make(name):
            def op():
                ctx.job_group("build")
                with ctx.tracer.span("workloads.call"):
                    df = QUERIES[name](ctx.spark, ctx.data_dir)
                ctx.job_group("sink")
                with ctx.tracer.span("spark.sink"):
                    pdf = df.toPandas()
                ctx.job_group(None)
                ctx.last_df = df
                return name, pdf

            return op

        return [(name, make(name)) for name in self.order(seed)]

    def after_op(self, ctx, name: str, rec: dict) -> None:
        pass

    def end_pass(self, ctx, pass_no: int, check: bool) -> dict[str, bool]:
        return {}

    def expected(self, ctx, checks: set[str]) -> dict:
        from perfbench.validate import Oracle
        from stdb_spark.workloads import ORACLES

        oracle = Oracle(ctx.data_dir, self.tables)
        try:
            return {name: oracle.fingerprint(ORACLES[name]) for name in checks}
        finally:
            oracle.close()

    def result_key(self, result):
        from perfbench.validate import fingerprint

        return fingerprint(result)


class IngestWorkload:
    """RESP batches -> storage layout + summaries -> Engine read-back."""

    name = "ingest_readback"
    tables = ()
    write_steps = ("ingest.write", "ingest.summary")

    def generate(self, data_dir: str, seed: int) -> None:
        self.batches = gen.resp_batches(seed, INGEST_BATCHES, INGEST_PDUS)
        os.makedirs(data_dir, exist_ok=True)
        self.wire = []
        for i, b in enumerate(self.batches):
            path = os.path.join(data_dir, f"wire-{i:03d}.parquet")
            gen.write_resp_batch(path, b["pdus"])
            self.wire.append(path)
        self.user_bytes = sum(b["wire_bytes"] for b in self.batches)
        self.pdus_in = sum(len(b["pdus"]) for b in self.batches)
        self.rows_in = sum(b["rows"] for b in self.batches)

    def _paths(self, ctx, pass_no: int) -> tuple[str, str]:
        return (
            os.path.join(ctx.data_dir, f"layout-{pass_no}"),
            os.path.join(ctx.data_dir, f"summary-{pass_no}"),
        )

    def ops(self, ctx, seed: int) -> list[tuple[str, object]]:
        from stdb_spark.engine import Engine
        from stdb_spark.sources import resp, storage

        layout, summary = self._paths(ctx, ctx.pass_no)
        self._layout_state = (0, 0)
        ops = []
        for i, batch in enumerate(self.batches):
            wire, days = self.wire[i], batch["days"]

            def write(wire=wire):
                ctx.job_group("write")
                rows = resp.parse_resp_full(ctx.spark.read.parquet(wire))
                storage.write_samples(rows, layout, mode="append")
                ctx.job_group(None)
                return None, None

            def summarize(days=days):
                ctx.job_group("summary")
                storage.update_summary_incremental(ctx.spark, layout, summary, days)
                ctx.job_group(None)
                return None, None

            def readback(lo_day, hi_day):
                def op():
                    ctx.job_group("readback")
                    eng = Engine(
                        ctx.spark,
                        samples=storage.read_samples(ctx.spark, layout),
                        exact_sums=True,
                    )
                    df = eng.query(
                        {
                            "aggregate": {m: ["count", "sum"] for m in gen.RESP_NUMERIC},
                            "group-by-tag": [],
                            "range": {
                                "from": lo_day * gen.NS_PER_DAY,
                                "to": (hi_day + 1) * gen.NS_PER_DAY,
                            },
                        }
                    )
                    with ctx.tracer.span("spark.sink"):
                        rows = df.collect()
                    ctx.job_group(None)
                    ctx.last_df = df
                    return (lo_day, hi_day), {r["series"]: r["value"] for r in rows}

                return op

            ops += [
                ("ingest.write", write),
                ("ingest.summary", summarize),
                ("readback.newest", readback(days[-1], days[-1])),
                ("readback.full", readback(gen.RESP_DAY0, days[-1])),
            ]
        return ops

    def after_op(self, ctx, name: str, rec: dict) -> None:
        """Traced pass only: files and bytes the write step added."""
        if name != "ingest.write":
            return
        layout, _ = self._paths(ctx, ctx.pass_no)
        files = glob.glob(os.path.join(layout, "**", "*.parquet"), recursive=True)
        n, size = len(files), sum(os.path.getsize(f) for f in files)
        rec["files_written"] = n - self._layout_state[0]
        rec["bytes_written"] = size - self._layout_state[1]
        self._layout_state = (n, size)

    def end_pass(self, ctx, pass_no: int, check: bool) -> dict[str, bool]:
        """Untimed per-pass check of a timed pass: rows in the layout equal
        the rows the generator framed as valid, and summary totals equal
        layout totals.  Returns the verdict per operation name and records
        the stored bytes.  Every pass's layout is deleted."""
        from pyspark.sql import functions as F

        layout, summary = self._paths(ctx, pass_no)
        if not check:
            shutil.rmtree(layout, ignore_errors=True)
            shutil.rmtree(summary, ignore_errors=True)
            return {}
        lay = ctx.spark.read.parquet(layout)
        n_rows = lay.count()
        lay_tot = (
            lay.filter(F.col("value").isNotNull())
            .agg(F.count("value"), F.sum(F.col("value").cast("decimal(38,10)")))
            .first()
        )
        summ = ctx.spark.read.parquet(summary).agg(F.sum("cnt"), F.sum("sum")).first()
        ctx.rows_accepted.append(n_rows)
        stored = sum(
            os.path.getsize(f)
            for d in (layout, summary)
            for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        )
        ctx.bytes_stored.append(stored)
        shutil.rmtree(layout, ignore_errors=True)
        shutil.rmtree(summary, ignore_errors=True)
        return {
            "ingest.write": n_rows == self.rows_in,
            "ingest.summary": (int(summ[0]), summ[1]) == (int(lay_tot[0]), lay_tot[1]),
        }

    def expected(self, ctx, checks: set) -> dict:
        """Read-back ground truth per (first day, last day): for each numeric
        metric, ``metric:count`` and ``metric:sum`` over the range."""
        out = {}
        for lo, hi in checks:
            agg: dict[str, list[int]] = {}
            for b in self.batches:
                for (d, m), (cnt, cents) in b["truth"].items():
                    if lo <= d <= hi and m in gen.RESP_NUMERIC:
                        acc = agg.setdefault(m, [0, 0])
                        acc[0] += cnt
                        acc[1] += cents
            exp = {}
            for m, (cnt, cents) in agg.items():
                exp[f"{m}:count"] = cnt
                exp[f"{m}:sum"] = cents
            out[(lo, hi)] = exp
        return out

    def result_key(self, result):
        # sums compared exactly in cents: values carry two decimals and
        # the engine's exact sums are decimal-backed
        return {
            k: (int(round(v * 100)) if k.endswith(":sum") else int(v))
            for k, v in result.items()
        }


WORKLOADS = {
    "tsdb_queries": RegistryWorkload("tsdb_queries", TSDB_ENTRIES, TSDB_COPIES, ("events",)),
    "pipeline_batch": RegistryWorkload(
        "pipeline_batch",
        PIPELINE_ENTRIES,
        PIPELINE_COPIES,
        ("orders", "lineitem", "events", "documents", "embeddings"),
    ),
    "ingest_readback": IngestWorkload(),
}
