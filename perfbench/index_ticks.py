"""``index_ticks``: seven streaming maintainers, each starting from fresh
state, refreshed slice by slice. One refresh is one tick
(``merge_batch``, or ``accept_batch`` for ``DedupMaintainer``) followed by
one served read materialised with the ``noop`` sink.

Layers exercised: streaming (aggmaint, cmmaint, dedupmaint, samplemaint,
neardupmaint, covmaint, driftmaint) and the operators they call; traced
runs also time the query registry's plan build, after the timed loop.
Bypassed: csv ingest, quality checks, sinks, SCD2 and the pipeline.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import time
from dataclasses import dataclass
from typing import Callable

from common import (
    Session,
    Tally,
    dir_size,
    percentile,
    plan_seconds,
    session_metrics,
    spark_metrics,
)
from gate import close_rows, same_rows
from etl_inputs import DATA_DIR
from index_inputs import SLICES, generate

MAINTAINERS = ("agg", "cm", "dedup", "sample", "neardup", "cov", "drift")
MIN_ROUNDS = 2  # refresh rounds after the bootstrap round
# per-layer metrics only this workload produces
LAYERS = tuple(
    f"{m}.{k}" for m in MAINTAINERS for k in ("tick_s", "tick_jobs", "serve_s", "state_bytes")
) + ("queries.build_s",)


@dataclass
class Lane:
    name: str
    table: str
    cols: list[str]
    base_dir: str
    mnt: object
    tick: Callable
    serve: Callable


def _lanes(spark, root: str) -> list[Lane]:
    from pyspark.sql import functions as F

    from _data_engineering_pipeline_project_spark.queries_ext11 import _BK_LANG_K
    from _data_engineering_pipeline_project_spark.streaming.aggmaint import AggMaintainer
    from _data_engineering_pipeline_project_spark.streaming.cmmaint import CountMinMaintainer
    from _data_engineering_pipeline_project_spark.streaming.covmaint import CovarianceMaintainer
    from _data_engineering_pipeline_project_spark.streaming.dedupmaint import DedupMaintainer
    from _data_engineering_pipeline_project_spark.streaming.driftmaint import DriftMaintainer
    from _data_engineering_pipeline_project_spark.streaming.neardupmaint import (
        NearDupIndexMaintainer,
    )
    from _data_engineering_pipeline_project_spark.streaming.samplemaint import SampleMaintainer

    d = {m: os.path.join(root, m) for m in MAINTAINERS}
    agg = AggMaintainer(spark, d["agg"], ["event_type"], "value")
    cm = CountMinMaintainer(spark, d["cm"])
    dedup = DedupMaintainer(spark, d["dedup"])
    sample = SampleMaintainer(
        spark, d["sample"], key_col="doc_id", k=_BK_LANG_K, group_col="lang"
    )
    neardup = NearDupIndexMaintainer(spark, d["neardup"])
    cov = CovarianceMaintainer(spark, d["cov"], dim=64)
    drift = DriftMaintainer(spark, d["drift"])

    def drift_tick(batch, bid):
        drift.merge_batch(batch, batch_id=bid)
        if bid == 0:
            # drift_report raises until a baseline is pinned
            drift.mark_baseline()

    def cov_serve(batch):
        pairs = cov.covariance_pairs(include_diagonal=False)
        return (
            pairs.select("dim_i", "dim_j", F.round("cov", 8).alias("cov"))
            .orderBy(F.abs(F.col("cov")).desc(), "dim_i", "dim_j")
            .limit(20)
        )

    def merge(m):
        return lambda batch, bid: m.merge_batch(batch, batch_id=bid)

    docs = ["doc_id", "text"]
    emb = ["vec_id", "embedding"]
    return [
        Lane("agg", "events", ["user_id", "event_type", "value"], d["agg"], agg,
             merge(agg), lambda b: agg.result()),
        Lane("cm", "events", ["user_id"], d["cm"], cm,
             merge(cm), lambda b: cm.estimate(b, "user_id")),
        Lane("dedup", "documents", docs, d["dedup"], dedup,
             lambda b, bid: dedup.accept_batch(b, batch_id=bid),
             lambda b: dedup.accepted()),
        Lane("sample", "documents", ["lang", "doc_id", "source", "n_chars"],
             d["sample"], sample, merge(sample), lambda b: sample.sample()),
        Lane("neardup", "documents", docs, d["neardup"], neardup,
             merge(neardup), lambda b: neardup.pairs()),
        Lane("cov", "embeddings", emb, d["cov"], cov, merge(cov), cov_serve),
        Lane("drift", "embeddings", emb, d["drift"], drift, drift_tick,
             lambda b: drift.drift_report()),
    ]


def run(args, work: str, tracer=None) -> tuple[Tally, dict]:
    paths = generate(os.path.join(work, "src"), args.seed)

    with Session() as sess:
        return _measure(args, work, tracer, sess, paths)


def _measure(args, work, tracer, sess, paths):
    spark = sess.spark
    if tracer is not None:
        tracer.attach(spark.sparkContext)
    from pyspark.sql import functions as F

    sources = {t: spark.read.parquet(p) for t, p in paths.items()}
    lanes = _lanes(spark, os.path.join(work, "state"))
    tally = Tally()
    refresh_s: list[float] = []
    tick_s = dict.fromkeys(MAINTAINERS, 0.0)
    serve_s = dict.fromkeys(MAINTAINERS, 0.0)
    errors: dict[str, str] = {}

    def span(name, label=""):
        return tracer.span(name, label) if tracer else contextlib.nullcontext()

    def slice_of(lane: Lane, r: int):
        return sources[lane.table].filter(F.col("slice") == r).select(*lane.cols)

    def refresh(lane: Lane, r: int) -> None:
        batch = slice_of(lane, r)
        t0 = time.perf_counter()
        try:
            with span("maint.refresh", lane.name):
                with span("maint.tick", lane.name):
                    lane.tick(batch, r)
                t1 = time.perf_counter()
                with span("maint.serve", lane.name):
                    lane.serve(batch).write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            tick_s[lane.name] += t1 - t0
            serve_s[lane.name] += t2 - t1
        except Exception as e:  # the lane is broken from here on
            errors.setdefault(lane.name, f"{type(e).__name__}: {e}")
        refresh_s.append(time.perf_counter() - t0)

    rounds: list[float] = []
    t_loop = None
    r = 0
    while r < SLICES:
        if r > MIN_ROUNDS and time.perf_counter() - t_loop >= args.seconds:
            break
        t0 = time.perf_counter()
        for lane in lanes:
            refresh(lane, r)
        rounds.append(time.perf_counter() - t0)
        if r == 0:
            t_loop = time.perf_counter()
        r += 1

    # correctness, outside the timed region: every refresh is one call;
    # a lane's final served result is checked against its one-shot twin
    for lane in lanes:
        for _ in range(r):
            tally.call()
        if lane.name in errors:
            tally.fail(f"{lane.name}: {errors[lane.name]}")
            continue
        ok, why = _check_lane(spark, lane, sources, paths, r)
        if not ok:
            tally.fail(f"{lane.name}: {why}")

    ms = 1e3
    # interference only ever slows a round down: the fastest round after
    # the bootstrap is the steadier estimate of its cost
    metrics = {
        "setup_s": (sess.setup_s, "s"),
        "cold_s": (rounds[0], "s"),
        "batch_s": (min(rounds[1:]), "s"),
        "op_p50_ms": (percentile(refresh_s, 50) * ms, "ms"),
        "op_p90_ms": (percentile(refresh_s, 90) * ms, "ms"),
    }
    if tracer is not None:
        plan_s = sum(
            plan_seconds(lambda: lane.serve(slice_of(lane, r - 1))._jdf)
            for lane in lanes
            if lane.name not in errors
        )
        metrics = _layer_metrics(tracer, sess, lanes, plan_s)
        metrics["queries.build_s"] = (registry_build_s(spark), "s")
        metrics["trace.cold_s"] = (rounds[0], "s")
        metrics["trace.batch_s"] = (min(rounds[1:]), "s")
        metrics["trace.op_p50_ms"] = (percentile(refresh_s, 50) * ms, "ms")
    info = {
        "rounds": r,
        "refreshes": len(refresh_s),
        "tick_s": tick_s,
        "serve_s": serve_s,
    }
    return tally, {"metrics": metrics, "info": info}


def _layer_metrics(tracer, sess, lanes, plan_s) -> dict:
    m = {}
    m.update(session_metrics(sess))
    m.update(spark_metrics(tracer.run_counters(), plan_s))
    for lane in lanes:
        tick = tracer.totals("maint.tick", lane.name)
        m[f"{lane.name}.tick_s"] = (tick["wall_s"], "s")
        m[f"{lane.name}.tick_jobs"] = (tick["jobs"], "count")
        m[f"{lane.name}.serve_s"] = (tracer.totals("maint.serve", lane.name)["wall_s"], "s")
        m[f"{lane.name}.state_bytes"] = (dir_size(lane.base_dir)[0], "bytes")
    return m


def registry_build_s(spark, passes: int = 3) -> float:
    """Wall time of one call to the query registry for each of the 32
    headline and TPC-H queries (``bench.py``'s lists) over ``data/``: it
    builds each DataFrame and runs none. The median of ``passes`` passes,
    after one untimed pass that reads the parquet footers."""
    import __spark_entry__
    from bench import BENCH_QUERIES, TPCH_QUERIES

    registry = __spark_entry__.queries()
    names = list(dict.fromkeys(BENCH_QUERIES + TPCH_QUERIES))
    times = []
    for i in range(passes + 1):
        t0 = time.perf_counter()
        for name in names:
            registry[name](spark, DATA_DIR)
        if i:
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


# --- one-shot twins ----------------------------------------------------------


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def _duck(paths: dict, rounds: int):
    import duckdb

    con = duckdb.connect()
    for t, p in paths.items():
        drop = "" if t == "embeddings" else " EXCLUDE (slice)"
        con.execute(
            f"CREATE VIEW {t} AS SELECT *{drop} FROM read_parquet('{p}') "
            f"WHERE slice < {rounds}"
        )
    return con


def _oracle(name: str) -> str:
    from _data_engineering_pipeline_project_spark.queries import ORACLES

    sql = ORACLES[name]
    return sql() if callable(sql) else sql


def drift_sql() -> str:
    """The registry's drift oracle with its md5 baseline bucket replaced
    by the ingest slice: slice 0 is the baseline."""
    sql, n = re.subn(
        r"CAST\('0x' \|\| substr\(md5\(CAST\(vec_id AS VARCHAR\)\), 1, 15\)\s+"
        r"AS BIGINT\) % 3 AS b",
        "slice AS b",
        _oracle("drift_report_maintained"),
    )
    if n != 1:
        raise RuntimeError("drift oracle no longer has the expected bucket expression")
    return sql


def _duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _check_lane(spark, lane: Lane, sources, paths, rounds: int) -> tuple[bool, str]:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    seen = sources[lane.table].filter(F.col("slice") < rounds)
    if lane.name == "agg":
        ev = seen.select("event_type", "value").toPandas()
        g = ev.groupby("event_type", dropna=False)["value"]
        want = {
            k: (n, s, lo, hi)
            for k, n, s, lo, hi in zip(
                g.count().index, g.count(), g.sum(), g.min(), g.max()
            )
        }
        got = {
            r["event_type"]: (r["n"], r["total"], r["vmin"], r["vmax"])
            for r in lane.mnt.result().collect()
        }
        return close_rows(got, want)
    if lane.name == "cm":
        from _data_engineering_pipeline_project_spark.operators.frequency import cm_build

        mnt = lane.mnt
        twin = cm_build(seen.select("user_id"), F.col("user_id"), mnt.width, mnt.depth)
        return same_rows(*_collect(mnt.current()), *_collect(twin))
    if lane.name == "dedup":
        from _data_engineering_pipeline_project_spark.operators.textstats import fingerprint

        w = Window.partitionBy("fp").orderBy("slice", "doc_id")
        twin = (
            seen.withColumn("fp", fingerprint("text"))
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("doc_id")
        )
        got = lane.mnt.accepted().select("doc_id")
        return same_rows(*_collect(got), *_collect(twin))
    if lane.name == "sample":
        con = _duck(paths, rounds)
        cols, rows = _duck_rows(con, _oracle("balanced_panel_maintained"))
        want = [(r[cols.index("lang")], r[cols.index("doc_id")]) for r in rows]
        got = lane.mnt.sample().select("lang", "doc_id")
        return same_rows(*_collect(got), ["lang", "doc_id"], want)
    if lane.name == "neardup":
        con = _duck(paths, rounds)
        return same_rows(
            *_collect(lane.mnt.pairs()),
            *_duck_rows(con, _oracle("near_dup_pairs_maintained")),
        )
    if lane.name == "cov":
        con = _duck(paths, rounds)
        return same_rows(
            *_collect(lane.serve(None)),
            *_duck_rows(con, _oracle("covariance_maintained_embeddings")),
        )
    if lane.name == "drift":
        con = _duck(paths, rounds)
        return same_rows(*_collect(lane.mnt.drift_report()), *_duck_rows(con, drift_sql()))
    raise ValueError(lane.name)
