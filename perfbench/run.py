#!/usr/bin/env python3
"""Run one benchmark workload against the etl_spark engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository.  Workloads are listed
in ``BENCHMARK.json``; each is a module of this directory with a
``run(ctx)`` function.  The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: every ``end_to_end`` metric of ``BENCHMARK.json`` with
``--trace 0``, every ``per_layer`` metric with ``--trace 1``.  A readable
report goes to standard error.

With ``--trace 1`` the run also enables Spark's event log and keeps spans
in memory; both, with the run's own end-to-end figures, are written to
``.bench_work/traces/<workload>-seed<seed>.json`` at exit.  Tracing
overhead is the difference between those figures and an untraced run of
the same seed.

Every file the run writes lives under ``.bench_work/`` in the checkout;
the run's scratch directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Context:
    """What a workload gets: the session, its scratch dir, seed, measured
    seconds, tracer and engine hooks, plus the setup-time ledger."""

    def __init__(self, spark, work, seed, seconds, tracer, hooks):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.tracer, self.hooks = seconds, tracer, hooks
        self.setup_s = 0.0
        self.trace_extra: dict = {}

    def setup_done(self) -> None:
        """Setup ends: session start, inputs, warm-up and tables so far."""
        self.setup_s = time.monotonic() - T_START

    def add_setup(self, seconds: float) -> None:
        """Untimed preparation done between two timed loops."""
        self.setup_s += seconds

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench [{time.monotonic() - T_START:7.2f}s] {msg}", file=sys.stderr)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        return _fail(f"no BENCHMARK.json in {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "etl_spark", "__init__.py")):
        return _fail(f"no etl_spark package in {ROOT}: run from a checkout of the repository")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return _fail(f"unknown workload {args.workload!r}")

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from harness import EngineHooks, RssSampler, Tracer, cpu_times, start_spark, steal_frac

    cpu0 = cpu_times()
    rss = RssSampler().start()
    tracer = Tracer(bool(args.trace))
    spark = None
    hooks = None
    try:
        spark = start_spark(work, tracer.enabled)
        hooks = EngineHooks(tracer)
        ctx = Context(spark, work, args.seed, args.seconds, tracer, hooks)
        out = importlib.import_module(args.workload).run(ctx)
        hooks.restore()
        _stop_spark(spark)
        spark = None
        layers = out["layers"]() if tracer.enabled else {}
    except Exception:
        traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    finally:
        if hooks is not None:
            hooks.restore()
        if spark is not None:
            _stop_spark(spark)
        peak_mb = rss.stop()

    e2e = {**out["e2e"], "setup_s": ctx.setup_s, "peak_rss_mb": peak_mb}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        **e2e,
        "error_frac": out["failed"] / max(1, out["attempted"]),
        **out["report"],
        # share of host CPU time the hypervisor withheld during the run:
        # context for reading wall-clock figures, not a metric
        "host_steal_frac": steal_frac(cpu0, cpu_times()),
    }
    print(json.dumps(report, indent=1, default=str), file=sys.stderr)
    if tracer.enabled:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {"report": report, "layers": layers, **ctx.trace_extra,
                 "spans": tracer.spans},
                f, default=str,
            )
        print(f"perfbench: trace written to {path}", file=sys.stderr)
        selected, values = spec["per_layer"], layers
    else:
        selected, values = spec["end_to_end"], e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in selected
    }
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": bool(out["correct"]),
                "attempted": int(out["attempted"]),
                "failed": int(out["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
