"""The benchmark's workloads, each run untraced (end-to-end metrics) or
traced (per-layer metrics).

Every iteration checks its own output (``checks.py``); an iteration whose
check fails counts as failed. Inputs are built before any timed window. The
host-speed probe runs before every iteration, outside its timing.

Untraced: one cold iteration (the first execution in the fresh session),
then warm-up iterations, at least WARMUP_ITERATIONS of them and for at least
the first WARMUP_SHARE of ``seconds`` (the JIT keeps speeding the engine up
for several iterations), then timed warm iterations until another would
overrun ``seconds``.

Traced: the cold iteration and the same warm-up, then rounds of the
workload's layer breakdown followed by one untraced warm iteration for the
rest of ``seconds``; per-layer values are medians over rounds.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench import checks, host, inputs
from perfbench.trace import COUNTERS, Tracer

FIXED_NOW = "2026-01-01T00:00:00Z"  # report timestamps must not vary by run
WARMUP_SHARE = 0.25
# a count as well as a share: a run on a slow stretch of the host would
# otherwise start timing earlier on the JIT curve, widening the spread
WARMUP_ITERATIONS = 2


@dataclass
class Outcome:
    items: int
    cold_s: float = 0.0
    warmup_s: list[float] = field(default_factory=list)
    warm_s: list[float] = field(default_factory=list)
    probe_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)

    def verdict(self, problems: list[str], label: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"perfbench: {label}: check failed: {problems}", file=sys.stderr)


def _warm_up(out: Outcome, seconds: float, iteration) -> float:
    """Cold iteration, then warm-up iterations; returns the deadline of the
    measured part of the ``seconds`` window."""
    out.probe_s.append(host.speed_probe())
    out.cold_s = iteration()
    start = time.perf_counter()
    while True:
        out.probe_s.append(host.speed_probe())
        out.warmup_s.append(iteration())
        if len(out.warmup_s) >= WARMUP_ITERATIONS and time.perf_counter() - start >= WARMUP_SHARE * seconds:
            return start + seconds


def _measure(out: Outcome, seconds: float, iteration) -> None:
    deadline = _warm_up(out, seconds, iteration)
    while True:
        out.probe_s.append(host.speed_probe())
        out.warm_s.append(iteration())
        if time.perf_counter() + statistics.median(out.warm_s) > deadline:
            return


def _rounds(deadline: float, one_round) -> list[dict[str, float]]:
    """Run ``one_round`` (returning a dict of values) at least once and
    again while another round fits before ``deadline``."""
    rounds: list[dict[str, float]] = []
    while True:
        t = time.perf_counter()
        rounds.append(one_round())
        if time.perf_counter() + (time.perf_counter() - t) > deadline:
            return rounds


def _medians(rounds: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spark_layers(span: dict) -> dict[str, float]:
    c = span["counters"]
    return {f"spark.{k}": float(c[k]) for k in COUNTERS if k != "executor_run_s"}


def _scan_s(spark, *paths: str) -> float:
    t = time.perf_counter()
    for p in paths:
        _noop(spark.read.parquet(p))
    return time.perf_counter() - t


def _trace_summary(n_items: int, traced_s: float, untraced_s: float) -> dict[str, float]:
    return {
        "trace.items_per_s": n_items / traced_s,
        "trace.untraced_items_per_s": n_items / untraced_s,
        "trace.overhead_frac": traced_s / untraced_s - 1.0,
    }


# ------------------------------------------------------------ north_fused


def _observed_tiles(tiles):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("tiles")
    df = tiles.observe(
        obs,
        F.count(F.lit(1)).alias("tiles"),
        F.sum("n_images").alias("images"),
        F.bit_xor(F.xxhash64(*tiles.columns)).alias("digest"),
    )
    return df, obs


def _fused_iteration(spark, inp: inputs.NorthInputs, out: Outcome, ref: dict) -> float:
    """north_pipeline as one action with a noop sink; the tiles digest and
    image total are observed inside that same action."""
    from fairy_core_spark.pipeline.north import north_pipeline

    t = time.perf_counter()
    tiles = north_pipeline(spark.read.parquet(inp.images), spark.read.parquet(inp.geo), inp.polygons)
    df, obs = _observed_tiles(tiles)
    _noop(df)
    wall = time.perf_counter() - t
    got = obs.get
    ref.setdefault("digest", got["digest"])
    out.verdict(checks.check_tiles(got, inp.n_valid, ref["digest"]), "north_fused")
    return wall


def north_fused(spark, inp: inputs.NorthInputs, seconds: float) -> Outcome:
    out, ref = Outcome(items=inp.n_images), {}
    _measure(out, seconds, lambda: _fused_iteration(spark, inp, out, ref))
    return out


def _fused_ablation(spark, inp: inputs.NorthInputs, out: Outcome, ref: dict, tr: Tracer) -> dict:
    """Cumulative noop-sink ablation over the public prefixes of
    ``north_pipeline``: scan -> +validate -> +encode -> +PIP -> full. A
    layer's self time is the difference between consecutive prefixes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from fairy_core_spark.operators.images import with_image_checks
    from fairy_core_spark.pipeline.north import north_pipeline
    from fairy_core_spark.spatial.ops import TILE_LEVEL, spatial_annotate_broadcast, with_cell

    def reads():
        return spark.read.parquet(inp.images), spark.read.parquet(inp.geo)

    def valid_of(images):
        return with_image_checks(images).where(F.col("decode_ok") & F.col("dims_ok") & F.col("caption_ok"))

    def encoded_of(images, geo):
        return with_cell(valid_of(images).join(F.broadcast(geo), "image_id"), "lat", "lon", TILE_LEVEL, out="tile_id")

    with tr.span("north_fused.ablation"):
        with tr.span("sources.scan.images", counters=True) as s_img:
            _noop(reads()[0])
        with tr.span("sources.scan.geo", counters=True) as s_geo:
            _noop(reads()[1])
        with tr.span("prefix.validate", counters=True) as p_val:
            obs_v = Observation("valid")
            _noop(valid_of(reads()[0]).observe(obs_v, F.count(F.lit(1)).alias("n")))
        with tr.span("prefix.encode", counters=True) as p_enc:
            _noop(encoded_of(*reads()))
        with tr.span("prefix.pip", counters=True) as p_pip:
            obs_p = Observation("pip")
            annotated = spatial_annotate_broadcast(encoded_of(*reads()), inp.polygons)
            _noop(annotated.observe(
                obs_p,
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.size("polygon_ids") > 0).alias("matched"),
            ))
        with tr.span("prefix.full", counters=True) as p_full:
            df, obs_t = _observed_tiles(north_pipeline(*reads(), inp.polygons))
            _noop(df)

    out.verdict([] if obs_v.get["n"] == inp.n_valid else [f"valid rows {obs_v.get['n']} != {inp.n_valid}"], "prefix.validate")
    out.verdict([] if obs_p.get["n"] == inp.n_valid else [f"pip rows {obs_p.get['n']} != {inp.n_valid}"], "prefix.pip")
    out.verdict(checks.check_tiles(obs_t.get, inp.n_valid, ref["digest"]), "prefix.full")

    def dur(s):
        return s["end"] - s["start"]

    scan_img, scan_geo = dur(s_img), dur(s_geo)
    return {
        "sources.scan_s": scan_img + scan_geo,
        "operators.images.validate_s": dur(p_val) - scan_img,
        "spatial.ops.encode_s": dur(p_enc) - dur(p_val) - scan_geo,
        "spatial.ops.pip_s": dur(p_pip) - dur(p_enc),
        "pipeline.north.rollup_s": dur(p_full) - dur(p_pip),
        "validate.valid_frac": obs_v.get["n"] / inp.n_images,
        "pip.matched_frac": obs_p.get["matched"] / obs_p.get["n"],
        "full_s": dur(p_full),
        **_spark_layers(p_full),
    }


def north_fused_traced(spark, inp: inputs.NorthInputs, seconds: float, work: str, tr: Tracer) -> Outcome:
    """Per round: two passes of the fused ablation, an untraced fused
    iteration, and the same input through the checkpointed runner
    (materialise + resume)."""
    out, ref, k = Outcome(items=inp.n_images), {}, itertools.count()
    deadline = _warm_up(out, seconds, lambda: _fused_iteration(spark, inp, out, ref))

    def one_round():
        # two ablation passes: the small layers (encode, rollup) are
        # differences of multi-second prefixes and need the averaging
        layers = _medians([_fused_ablation(spark, inp, out, ref, tr) for _ in range(2)])
        untraced = _fused_iteration(spark, inp, out, ref)
        staged = _staged_layers(spark, inp, out, os.path.join(work, f"run{next(k)}"), tr)
        return {**layers, **staged, "untraced_s": untraced}

    m = _medians(_rounds(deadline, one_round))
    full, untraced = m.pop("full_s"), m.pop("untraced_s")
    out.layers = {**m, **_trace_summary(inp.n_images, full, untraced)}
    return out


def _staged_layers(spark, inp: inputs.NorthInputs, out: Outcome, out_dir: str, tr: Tracer) -> dict:
    """The same input through ``PipelineRunner``: materialise validate ->
    encode -> spatial_join -> tile into a fresh directory, then re-submit,
    where every stage must be skipped. Layer times come from the runner's
    own lineage; the run is checked like any iteration."""
    from fairy_core_spark.pipeline.runner import PipelineRunner, image_pipeline_stages

    stages = image_pipeline_stages(inp.n_images)[2:]
    snaps = {"images": inp.tag, "geo": inp.tag}
    with tr.span("pipeline.runner.run", counters=True) as s_run:
        sources = {"images": spark.read.parquet(inp.images), "geo": spark.read.parquet(inp.geo)}
        runner = PipelineRunner(spark, out_dir)
        first = runner.run(stages, sources=sources, source_snaps=snaps)
    with tr.span("pipeline.runner.resume") as s_resume:
        resume = runner.run(stages, sources=sources, source_snaps=snaps)

    lineage = checks.read_jsonl(os.path.join(out_dir, "lineage.jsonl"))
    rows = {t: checks.table_rows(out_dir, t) for t in checks.STAGED_TABLES.values()}
    tile_sum = checks.tile_image_sum(out_dir)
    out.verdict(checks.check_staged(first, resume, lineage, rows, tile_sum, inp.n_images, inp.n_valid), "north staged")
    written = sum(p["bytes"] for p in checks.read_jsonl(os.path.join(out_dir, "lineage_partitions.jsonl")))
    shutil.rmtree(out_dir)

    stage_s = {r["stage"]: r["wall_ms"] / 1e3 for r in lineage if r.get("status") == "completed"}
    return {
        **{f"pipeline.runner.stage.{s}_s": stage_s[s] for s in checks.STAGED_TABLES},
        "pipeline.runner.overhead_s": s_run["end"] - s_run["start"] - sum(stage_s.values()),
        "pipeline.runner.resume_s": s_resume["end"] - s_resume["start"],
        "sources.tables.bytes_written": float(written),
        "sources.tables.write_amp": written / inp.input_bytes,
    }


# ------------------------------------------------------ rulepack_preflight


def _rulepack_iteration(spark, inp: inputs.RulepackInputs, expected: dict, out: Outcome) -> float:
    from fairy_core_spark.plans.report import run_rulepack

    t = time.perf_counter()
    report = run_rulepack(spark, inp.paths, inp.rulepack, now_iso=FIXED_NOW)
    wall = time.perf_counter() - t
    out.verdict(checks.check_report(report, expected), "rulepack_preflight")
    return wall


def rulepack_preflight(spark, inp: inputs.RulepackInputs, expected: dict, seconds: float) -> Outcome:
    out = Outcome(items=sum(inp.rows.values()))
    _measure(out, seconds, lambda: _rulepack_iteration(spark, inp, expected, out))
    return out


def _traced_rulepack(spark, inp, expected, out: Outcome, tr: Tracer) -> dict:
    """run_rulepack with span wrappers around the public names it resolves
    at call time; the wrappers are removed afterwards."""
    import fairy_core_spark.plans.report as report_mod

    names = {
        "read_input": "sources.tables.read_input",
        "with_row_id_ingest": "sources.tables.with_row_id_ingest",
        "table_fingerprint": "plans.provenance.table_fingerprint",
    }
    saved = {n: getattr(report_mod, n) for n in [*names, "compile_rule"]}
    with tr.span("plans.report.run_rulepack", counters=True) as root:
        for n, span_name in names.items():
            setattr(report_mod, n, tr.wrap(span_name, saved[n]))

        def compile_rule(*a, **kw):
            with tr.span("operators.rules.compile_rule"):
                cr = saved["compile_rule"](*a, **kw)
            if cr.finalize is not None:
                # finalizers run on a thread pool: parent them explicitly
                cr.finalize = tr.wrap("operators.rules.finalize", cr.finalize, parent=root["id"])
            return cr

        report_mod.compile_rule = compile_rule
        try:
            report = report_mod.run_rulepack(spark, inp.paths, inp.rulepack, now_iso=FIXED_NOW)
        finally:
            for n, fn in saved.items():
                setattr(report_mod, n, fn)
    out.verdict(checks.check_report(report, expected), "rulepack_preflight traced")

    def wall(name):
        return tr.wall(name, root["id"])

    return {
        "traced_s": root["end"] - root["start"],
        "sources.tables.read_s": wall("sources.tables.read_input") + wall("sources.tables.with_row_id_ingest"),
        "plans.provenance.fingerprint_s": wall("plans.provenance.table_fingerprint"),
        "operators.rules.compile_s": wall("operators.rules.compile_rule"),
        "operators.rules.evidence_s": wall("operators.rules.finalize"),
        "plans.report.agg_s": tr.self_time(root),
        **_spark_layers(root),
    }


def rulepack_preflight_traced(spark, inp: inputs.RulepackInputs, expected: dict, seconds: float, tr: Tracer) -> Outcome:
    out = Outcome(items=sum(inp.rows.values()))
    deadline = _warm_up(out, seconds, lambda: _rulepack_iteration(spark, inp, expected, out))

    def one_round():
        scan = _scan_s(spark, *inp.paths.values())
        layers = _traced_rulepack(spark, inp, expected, out, tr)
        return {"sources.scan_s": scan, **layers, "untraced_s": _rulepack_iteration(spark, inp, expected, out)}

    m = _medians(_rounds(deadline, one_round))
    traced, untraced = m.pop("traced_s"), m.pop("untraced_s")
    out.layers = {**m, **_trace_summary(out.items, traced, untraced)}
    return out
