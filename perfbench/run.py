"""Benchmark of the engine's two scheduled jobs, run from the repo root:

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 10 --trace 0

Workloads (see README.md): ``etl_cycle`` and ``index_ticks``. Inputs are
made from ``--seed`` out of the parquet files in ``perfbench/data``; the
engine is the package at the repo root, on ``local[<cores>]``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around each layer's public functions and prints the
per-layer metrics instead, and writes its spans (one JSON line each) to
``.perfbench_work/spans-<workload>-<seed>.jsonl``. Every other file the
run writes lives under ``.perfbench_work/`` in the repo root and is
removed at the end. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("etl_cycle", "index_ticks")


def _environment(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work``, and size the engine to this machine's cores."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def _declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, in BENCHMARK.json order."""
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # before the engine is imported: it reads its core count at import
    _environment(work)
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        try:
            import _data_engineering_pipeline_project_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the engine package is not importable here: {e}",
                  file=sys.stderr)
            return 2
        declared = _declared(bool(args.trace))
        import etl_cycle
        import index_ticks

        wl, other = (
            (etl_cycle, index_ticks) if args.workload == "etl_cycle"
            else (index_ticks, etl_cycle)
        )
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(f"{args.workload}-{args.seed}")
        tally, out = wl.run(args, work, tracer)
        metrics = out["metrics"]
        if tracer is not None:
            metrics["ops_failed_ratio"] = (tally.failed / max(tally.attempted, 1), "ratio")
            # layers this workload never calls: nothing ran there
            for name in other.LAYERS:
                metrics[name] = (0, declared[name])
            tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
        got = {n: unit for n, (_v, unit) in metrics.items()}
        if got != declared:
            raise RuntimeError(
                "metrics differ from BENCHMARK.json: "
                f"{sorted(set(got.items()) ^ set(declared.items()))}"
            )
        for why in tally.problems:
            print(f"perfbench: FAILED {why}", file=sys.stderr)
        print(json.dumps(out["info"], default=str), file=sys.stderr)
        result = {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {
                n: {"value": metrics[n][0], "unit": unit} for n, unit in declared.items()
            },
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
