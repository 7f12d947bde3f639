"""fairy-core-spark benchmark.

    python3 perfbench/run.py --workload {north_fused,rulepack_preflight} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. Builds the workload's inputs from
the seed, starts one SparkSession at local[nproc], measures for ``seconds``
and checks every iteration's output. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). End-to-end times and rates are scaled to a reference host
speed, measured by a probe before every iteration. The line before it
records the host, the inputs, the probe and the unscaled values and, when
traced, every span. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "datagen_s": "s",
    "sources.scan_s": "s",
    "operators.images.validate_s": "s",
    "validate.valid_frac": "ratio",
    "spatial.ops.encode_s": "s",
    "spatial.ops.pip_s": "s",
    "pip.matched_frac": "ratio",
    "pipeline.north.rollup_s": "s",
    "pipeline.runner.stage.validate_s": "s",
    "pipeline.runner.stage.encode_s": "s",
    "pipeline.runner.stage.spatial_join_s": "s",
    "pipeline.runner.stage.tile_s": "s",
    "pipeline.runner.overhead_s": "s",
    "pipeline.runner.resume_s": "s",
    "sources.tables.bytes_written": "bytes",
    "sources.tables.write_amp": "ratio",
    "sources.tables.read_s": "s",
    "plans.provenance.fingerprint_s": "s",
    "operators.rules.compile_s": "s",
    "operators.rules.evidence_s": "s",
    "plans.report.agg_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.items_per_s": "1/s",
    "trace.untraced_items_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}

WORKLOADS = ("north_fused", "rulepack_preflight")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fairy_core_spark", "__init__.py")):
        print(f"perfbench: no fairy_core_spark package under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    # the checkout root, not this directory, goes first on the path
    sys.path[0] = ROOT

    from perfbench import checks, host, inputs, workloads
    from perfbench.trace import Tracer

    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(dir=work_root)
    spark = None
    try:
        spark = host.start_session(ROOT, work)
        setup_s = host.seconds_since_process_start()
        setup_probe_s = host.speed_probe()

        t = time.perf_counter()
        data = os.path.join(work, "inputs")
        if args.workload == "rulepack_preflight":
            inp = inputs.make_rulepack(data, args.seed)
            expected = checks.duckdb_expected(inp.paths, inp.rulepack, os.path.join(work, "tmp"))
            described = {"rows": inp.rows, "expected": expected}
        else:
            inp = inputs.make_north(data, args.seed)
            described = {"n_images": inp.n_images, "n_valid": inp.n_valid, "input_bytes": inp.input_bytes}
        datagen_s = time.perf_counter() - t

        tracer = Tracer(spark) if args.trace else None
        runs = os.path.join(work, "runs")
        with host.PeakRss() as rss:
            if args.workload == "north_fused":
                out = (workloads.north_fused_traced(spark, inp, args.seconds, runs, tracer) if tracer
                       else workloads.north_fused(spark, inp, args.seconds))
            else:
                out = (workloads.rulepack_preflight_traced(spark, inp, expected, args.seconds, tracer) if tracer
                       else workloads.rulepack_preflight(spark, inp, expected, args.seconds))
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "host": host.facts(),
            "inputs": described,
            "cold_s": out.cold_s,
            "warmup_s": out.warmup_s,
            "warm_s": out.warm_s,
            "probe_s": [setup_probe_s, *out.probe_s],
        }
    finally:
        if spark is not None:
            host.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run is still using it

    if tracer:
        values = {"session.start_s": setup_s, "datagen_s": datagen_s, **out.layers}
        units = PER_LAYER
        context["spans"] = tracer.to_json()
    else:
        raw = {
            "setup_s": setup_s,
            "cold_s": out.cold_s,
            "items_per_s": out.items / statistics.median(out.warm_s),
        }
        # < 1 on a slow stretch of the host: times shrink and rates grow by it
        scale = host.REFERENCE_PROBE_S / statistics.median(context["probe_s"])
        values = {
            "setup_s": raw["setup_s"] * scale,
            "cold_s": raw["cold_s"] * scale,
            "items_per_s": raw["items_per_s"] / scale,
            "peak_rss_mb": rss.peak / 2**20,
            "ok_frac": (out.attempted - out.failed) / out.attempted,
        }
        context.update(unscaled=raw, speed_scale=scale)
        units = END_TO_END
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
    print(json.dumps(context, sort_keys=True))
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
