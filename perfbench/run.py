#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ioc_batch,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  Builds the workload's inputs from the
seed, sets up the engine, measures for S seconds, checks every output
against a DuckDB oracle outside the timed regions, and prints one JSON
object as the last line of stdout: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Progress goes to stderr; traced runs also write their
spans to ``perfbench/.traces/``.  Exits 1 when a check fails, 2 when the
engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # a hung run fails instead of outliving its 180 s limit


def _isolate(work: str, traced: bool) -> None:
    """Keep every file the run writes under ``work``: scratch space of
    Python, the JVM and Spark, the warehouse (cwd) and checkpoints.
    Workers import the engine package from the repository root.  Only a
    traced run makes the UI keep every job and stage, for the counters
    it reads back; a timed run measures the engine's defaults."""
    retain = (
        " --conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000"
        if traced
        else ""
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options -Djava.io.tmpdir={tmp}"
                " --conf spark.ui.showConsoleProgress=false"
                f"{retain} pyspark-shell"
            ),
        }
    )
    os.chdir(work)
    sys.path.insert(0, ROOT)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the JVM shutdown below


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "cybersecurity_ioc_etl_spark")
    ):
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work, bool(args.trace))
    from perfbench import workloads
    from perfbench.harness import Context, log

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    ctx = Context(args.seed, args.seconds, bool(args.trace), work)
    e2e = None
    try:
        e2e = getattr(workloads, args.workload)(ctx)
    except Exception:
        traceback.print_exc()
        ctx.failed += 1
        ctx.attempted = max(ctx.attempted, 1)
    finally:
        signal.alarm(0)
        ctx.shutdown()
        if ctx.traced:
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            ctx.tracer.dump(
                os.path.join(HERE, ".traces", f"{args.workload}-{args.seed}.jsonl")
            )
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    if e2e is None:
        metrics = {}
    elif args.trace:
        # every layer the workload owns must have been measured; each
        # result names every per-layer metric, so the layers of the
        # other workload read 0
        own = workloads.LAYERS[args.workload]
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if not name.startswith(own):
                value = 0.0
            elif name in ctx.layers:
                value = ctx.layers[name]
            else:
                ctx.fail(f"layer {name} was not measured")
                continue
            metrics[name] = {"value": float(value), "unit": m["unit"]}
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    correct = e2e is not None and ctx.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
