#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload governed_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload runs in this process, in a
fresh Spark session (JVM) that is stopped before exit. With ``--trace 0``
the last stdout line carries every end-to-end metric of BENCHMARK.json,
with ``--trace 1`` every per-layer metric (a layer the workload leaves idle
reads 0). The line before it is a detail record (sample counts, host
calibration, output-check findings). Exit status is non-zero when an
output check fails or an operation fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("governed_batch", "api_serving")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="input scale factor (fixture sf); 0.1 is the benchmark's")
    ap.add_argument("--warmup", type=float, default=15.0,
                    help="api_serving warm-up seconds before the timed window")
    return ap.parse_args(argv)


def run_workload(args, work_dir: str, tracer) -> dict:
    import datagen
    import common

    with tracer.span("session.start", run="setup"):
        spark, session_s = common.start_session(work_dir)
    try:
        data_dir = os.path.join(work_dir, "data")
        preps = []
        for _ in range(3):  # input generation is repeated; set-up reports its median
            t = time.perf_counter()
            datagen.generate(data_dir, args.seed, args.scale)
            preps.append(time.perf_counter() - t)
        if args.workload == "governed_batch":
            import governed_batch

            res = governed_batch.run(spark, data_dir, tracer)
        else:
            import api_serving

            res = api_serving.run(spark, data_dir, work_dir, args.seconds, args.warmup,
                                  tracer, args.seed)
        res["prep_s"] = common.median(preps)
        res["session_s"] = session_s
        res["peak_rss_mb"] = common.peak_rss_mb()
    finally:
        common.stop_session(spark)
    return res


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "emdatapipelines_spark")):
        print(f"engine package emdatapipelines_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]
    from bench import _host_calibration
    from spans import Tracer

    tracer = Tracer(args.trace == 1)
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        res = run_workload(args, work_dir, tracer)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # left in place while other runs use it
            os.rmdir(os.path.dirname(work_dir))

    mismatches = res["mismatches"]
    failed = res["failed"] + len(mismatches)
    e2e = {**res["e2e"],
           "setup_s": res["session_s"] + res["prep_s"] + res["warm_s"],
           "peak_rss_mb": res["peak_rss_mb"]}
    calib = _host_calibration()
    layers = {m["name"]: 0.0 for m in spec["per_layer"]}  # idle layers read 0
    layers.update({f"{k}.self_s": v for k, v in tracer.layer_self_seconds().items()})
    layers.update(res["layers"])
    layers.update({"session.start_s": res["session_s"],
                   "error_ratio": failed / res["attempted"],
                   "host.calib_s": calib})
    if tracer.enabled:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))

    wanted = spec["per_layer"] if tracer.enabled else spec["end_to_end"]
    values = layers if tracer.enabled else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"workload did not produce metrics {missing}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                      "scale": args.scale, "host_calib_s": calib, "e2e": e2e,
                      "layers": layers if tracer.enabled else None,
                      "mismatches": mismatches, "detail": res["detail"]}))
    print(json.dumps({
        "correct": not mismatches,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
