"""``etl_cycle``: the reference's job, one cold and two incremental cycles
of ``Pipeline.run_batch`` over CSV batches, then a closed loop of read
requests as the engine's read API makes them: ``serve.table_rows`` with
its default row cap over each loaded table's current SCD2 snapshot.

Layers exercised: sources.csv_source, operators.quality, sources.sinks,
operators.scd2, pipeline, serve. Bypassed: the query registry and the
streaming maintainers.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import numpy as np

from common import (
    Session,
    Tally,
    dir_size,
    percentile,
    plan_seconds,
    session_metrics,
    spark_metrics,
)
from tracing import rolled_up
from etl_inputs import BATCH_TS, TABLES, digest, generate

# per-layer metrics only this workload produces
LAYERS = (
    "csv_source.read_s",
    "quality.run_s",
    "sinks.check_summary_s",
    "sinks.check_summary_jobs",
    "sinks.error_sink_s",
    "sinks.error_sink_jobs",
    "sinks.error_rows",
    "scd2.merge_s.cold",
    "scd2.merge_s.incr",
    "scd2.merge_jobs.cold",
    "scd2.merge_jobs.incr",
    "scd2.merge_s.orders",
    "pipeline.self_s",
    "pipeline.wall_s",
    "scd2.read_s",
    "serve.rows_s",
    "scd2.state_bytes",
    "scd2.state_files",
)
API_LIMIT = 1000  # serve.table_rows' default row cap, used by the gate
WARMUP_BLOCKS = 4  # untimed read blocks before the timed loop


def registry():
    from _data_engineering_pipeline_project_spark.schema import (
        SchemaRegistry,
        tpch_registry,
    )

    full = tpch_registry()
    reg = SchemaRegistry()
    for name in TABLES:
        reg.register(full[name])
    return reg


def _check_cycle(tally, res, exp, i: int, pipe=None) -> None:
    got_summary = {(c, iss): n for c, iss, n in res.violation_summary}
    ok = got_summary == exp.summary[i]
    why = f"cycle {i}: violation summary {got_summary} != {exp.summary[i]}"
    if ok and res.merge_stats != exp.merge_stats[i]:
        ok, why = False, f"cycle {i}: merge stats {res.merge_stats} != {exp.merge_stats[i]}"
    if ok and pipe is not None:
        for name in TABLES:
            df = pipe.current(name)
            got = digest(tuple(r) for r in df.collect())
            if got != exp.snapshot_digest[name]:
                ok, why = False, f"cycle {i}: {name} snapshot differs"
                break
    tally.call(ok, why)


def run(args, work: str, tracer=None) -> tuple[Tally, dict]:
    reg = registry()
    exp = generate(reg, os.path.join(work, "src"), args.seed)
    with Session() as sess:
        return _measure(args, work, tracer, sess, reg, exp)


def _measure(args, work, tracer, sess, reg, exp):
    rng = np.random.default_rng([args.seed, 1])
    spark = sess.spark
    if tracer is not None:
        tracer.attach(spark.sparkContext)
    from _data_engineering_pipeline_project_spark import pipeline as pl
    from _data_engineering_pipeline_project_spark import serve

    tally = Tally()
    sink = os.path.join(work, "sink")
    pipe = pl.Pipeline(spark, reg, sink)
    src = os.path.join(work, "src")

    targets = []
    if tracer is not None:
        targets = [
            (pl, "read_csv_dir", "csv_source.read_dir", None),
            (pl.QualityChecker, "run", "quality.run", None),
            (pl, "log_check_summary", "sinks.check_summary", None),
            (pl, "write_error_sink", "sinks.error_sink", None),
            (pl.Scd2Table, "merge", "scd2.merge",
             lambda self, *a, **k: os.path.basename(self.base_dir)),
        ]

    def cycle(folder, ts, label):
        t0 = time.perf_counter()
        if tracer is None:
            res = pipe.run_batch(folder, ts)
        else:
            with tracer.span("pipeline.run_batch", label):
                res = pipe.run_batch(folder, ts)
        return res, time.perf_counter() - t0

    latencies: list[float] = []
    checks = []

    def request(state, table, timed):
        t0 = time.perf_counter()
        try:
            if tracer is None:
                rows = serve.table_rows(pipe.current(table))
            else:
                with tracer.span("serve.request", table):
                    with tracer.span("scd2.read", table):
                        df = pipe.current(table)
                    with tracer.span("serve.rows", table):
                        rows = serve.table_rows(df)
            got = len(rows)
        except Exception as e:  # a failed request still counts
            got = f"{type(e).__name__}: {e}"
        if timed:
            latencies.append(time.perf_counter() - t0)
        checks.append((state, table, got))

    def block(state, timed=False):
        """Read every loaded table once, in a seeded order, one client."""
        for j in rng.permutation(len(TABLES)):
            request(state, TABLES[j], timed)

    with tracer.patched(targets) if tracer else contextlib.nullcontext():
        results, walls = [], []
        for i, ts in enumerate(BATCH_TS):
            res, wall = cycle(os.path.join(src, f"b{i + 1}"), ts, "incr" if i else "cold")
            results.append(res)
            walls.append(wall)
            # one untimed block after each cycle, so that every state's
            # reads are checked
            block(i)
        # the closed loop of read requests over the final state, timed
        # for --seconds after a fixed warm-up: the first reads after the
        # merges run slower (about 270 ms falling to 200 ms on local[4])
        last = len(BATCH_TS) - 1
        for _ in range(WARMUP_BLOCKS):
            block(last)
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds:
            block(last, timed=True)
        # interference only ever slows a cycle down: the faster
        # incremental cycle is the steadier estimate of its cost
        cold_s, incr_s = walls[0], min(walls[1:])

    # correctness, outside the timed region
    for i, res in enumerate(results):
        _check_cycle(tally, res, exp, i, pipe if i == len(results) - 1 else None)
    for state, table, got in checks:
        want = min(API_LIMIT, exp.current_rows[(state, table)])
        tally.call(got == want, f"read {table} returned {got}, want {want}")

    ms = 1e3
    metrics = {
        "setup_s": (sess.setup_s, "s"),
        "cold_s": (cold_s, "s"),
        "batch_s": (incr_s, "s"),
        "op_p50_ms": (percentile(latencies, 50) * ms, "ms"),
        "op_p90_ms": (percentile(latencies, 90) * ms, "ms"),
    }
    if tracer is not None:
        # the query table_rows runs: limit, then toJSON
        plan_s = sum(
            plan_seconds(lambda: pipe.current(t).limit(API_LIMIT)._jdf.toJSON())
            for t in TABLES
        )
        metrics = _layer_metrics(tracer, sess, sink, results, plan_s)
        metrics["trace.cold_s"] = (cold_s, "s")
        metrics["trace.batch_s"] = (incr_s, "s")
        metrics["trace.op_p50_ms"] = (percentile(latencies, 50) * ms, "ms")
    info = {
        "requests": len(latencies),
        "mix": exp.mix,
        "median_request_ms": statistics.median(latencies) * ms,
    }
    return tally, {"metrics": metrics, "info": info}


def _layer_metrics(tracer, sess, sink, results, plan_s) -> dict:
    T = tracer.totals
    m = {}
    m.update(session_metrics(sess))
    m.update(spark_metrics(tracer.run_counters(), plan_s))
    m["csv_source.read_s"] = (T("csv_source.read_dir")["wall_s"], "s")
    m["quality.run_s"] = (T("quality.run")["wall_s"], "s")
    cs, es = T("sinks.check_summary"), T("sinks.error_sink")
    m["sinks.check_summary_s"] = (cs["wall_s"], "s")
    m["sinks.check_summary_jobs"] = (cs["jobs"], "count")
    m["sinks.error_sink_s"] = (es["wall_s"], "s")
    m["sinks.error_sink_jobs"] = (es["jobs"], "count")
    rows = sum(n for res in results for _c, _i, n in res.violation_summary)
    m["sinks.error_rows"] = (rows, "count")

    # merges split by the cycle they ran in
    by_id = {s.id: s for s in tracer.spans}
    merge = {"cold": [0.0, 0], "incr": [0.0, 0]}
    rolled = rolled_up(tracer.spans)
    for s in tracer.spans:
        if s.name == "scd2.merge":
            cyc = by_id[s.parent]
            while cyc.name != "pipeline.run_batch":
                cyc = by_id[cyc.parent]
            merge[cyc.label][0] += s.end - s.start
            merge[cyc.label][1] += rolled[s.id]["jobs"]
    for cyc in ("cold", "incr"):
        m[f"scd2.merge_s.{cyc}"] = (merge[cyc][0], "s")
        m[f"scd2.merge_jobs.{cyc}"] = (merge[cyc][1], "count")
    m["scd2.merge_s.orders"] = (T("scd2.merge", "orders")["wall_s"], "s")
    run_batch = T("pipeline.run_batch")
    m["pipeline.self_s"] = (run_batch["self_s"], "s")
    m["pipeline.wall_s"] = (run_batch["wall_s"], "s")
    m["scd2.read_s"] = (T("scd2.read")["wall_s"], "s")
    m["serve.rows_s"] = (T("serve.rows")["wall_s"], "s")
    state_bytes = state_files = 0
    for name in TABLES:
        b, f = dir_size(os.path.join(sink, name))
        state_bytes += b
        state_files += f
    m["scd2.state_bytes"] = (state_bytes, "bytes")
    m["scd2.state_files"] = (state_files, "count")
    return m
