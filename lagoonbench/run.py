"""Run one benchmark workload against the lagoon_spark in this checkout.

    python3 lagoonbench/run.py --workload sql_serve --seed 1 --seconds 10 --trace 0

Run from the checkout root. Inputs are generated from ``--seed`` before
anything is timed; the program only ever sees the generated files.
With ``--trace 0`` the last line of standard output is a JSON object
holding the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1``
it holds the per-layer metrics instead, from a run that alternates
traced and untraced operations. The line before it is a detailed report:
every metric with its unit and sample count, and the failures, if any.

Exit status: 0 when every output checked out, 1 when any did not (the
result line is still printed, with ``"correct": false``), 2 when the
benchmark could not run at all (no result line).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_mix", "sql_serve", "llm_pipeline")
E2E_UNITS = {
    "setup_s": "s", "op_ms": "ms", "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args, work: str, held: dict):
    """Set up, measure and check one workload; the session goes into
    ``held["spark"]`` as soon as it exists, so the caller can stop it."""
    import harness as H

    H.prepare_process(work)
    wl = importlib.import_module(args.workload)
    import layers as LY

    inputs = wl.make_inputs(args.seed, os.path.join(work, "inputs"))
    res = H.Result()

    res.probe(5)
    t0 = time.perf_counter()
    spark = held["spark"] = H.start_session()
    start_s = time.perf_counter() - t0
    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer(spark)
        tracer.install()
    rec = LY.IngestRecorder()

    # Set-up happens once per run: the JVM's cold start and first-use
    # compilation dominate it and cannot be repeated in one process, and
    # repeating the sql_serve base load would not fit the time budget
    # of a run. The warm-up runs the workload's code paths once, so the
    # measured window starts warm.
    state = None
    try:
        t0 = time.perf_counter()
        state = wl.set_up(spark, os.path.join(work, "warehouse"), inputs, tracer, rec)
        warehouse_s = time.perf_counter() - t0
        res.probe(5)
        t0 = time.perf_counter()
        wl.warm_up(state, inputs)
        warm_s = time.perf_counter() - t0
        res.probe(5)
        wl.measure(state, inputs, args.seconds, tracer, rec, res)
    finally:
        if state is not None:
            wl.tear_down(state)
        if tracer is not None:
            tracer.uninstall()

    setup_s = start_s + warehouse_s + warm_s
    # gated times at the reference host speed; measured ones in the detail
    res.detail["setup_raw_s"] = (setup_s, "s", 1)
    res.detail["op_raw_ms"] = (res.e2e["op_ms"], "ms", len(res.op_ms))
    cpu_ms, _unit, n = res.detail["cpu_raw_ms_per_op"]
    res.detail["cpu_ms_per_op"] = (H.at_ref(cpu_ms, res.probes), "ms", n)
    res.detail["host_probe_ms"] = (H.median(res.probes) * 1e3, "ms", len(res.probes))
    res.e2e["setup_s"] = H.at_ref(setup_s, res.probes)
    res.e2e["op_ms"] = H.at_ref(res.e2e["op_ms"], res.probes)
    res.e2e["peak_rss_mb"] = H.peak_rss_mb(spark)
    res.detail["setup_warehouse_s"] = (warehouse_s, "s", 1)
    res.layers["session.start_s"] = start_s
    res.layers["session.warmup_s"] = warm_s
    return res


def report(args, res) -> tuple[str, str]:
    import layers as LY

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "failed_share": res.failed / max(res.attempted, 1),
        "errors": res.errors,
        "op_ms": [round(x, 1) for x in res.op_ms],
        "metrics": {
            k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in sorted(res.detail.items())
        },
    }
    if args.trace:
        metrics = {
            k: {"value": float(res.layers.get(k, 0.0)), "unit": u} for k, u in LY.UNITS.items()
        }
    else:
        metrics = {k: {"value": float(res.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    last = {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": metrics,
    }
    return json.dumps(detail), json.dumps(last)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lagoon_spark")):
        print(f"no lagoon_spark package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    held: dict = {}
    try:
        res = run(args, work, held)
        detail, last = report(args, res)
    finally:
        if "spark" in held:
            import harness as H

            H.stop_session(held["spark"])
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(detail)
    print(last)
    return 0 if res.failed == 0 and res.attempted > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
