"""The benchmark's own tests: each correctness check accepts a correct
result and rejects a deliberately corrupted one. No Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, inputs
from perfbench.trace import Tracer

# ------------------------------------------------------------------ north


def test_expected_valid_matches_generator():
    """The generator corrupts exactly the ids expected_valid discounts."""
    from fairy_core_spark.datagen.images import synth_image_rows_batch

    lo, n, every = 7 * 300, 300, 50
    ids = list(range(lo, lo + n))
    dirty = synth_image_rows_batch(ids, every)
    clean = synth_image_rows_batch(ids, None)
    changed = sum(
        any(a != b for a, b in zip(d, c)) for d, c in zip(dirty.itertuples(index=False), clean.itertuples(index=False))
    )
    assert inputs.expected_valid(lo, n, every) == n - changed == 294


GOOD_TILES = {"tiles": 812, "images": 19600, "digest": -123456789}


def test_check_tiles_accepts_correct():
    assert checks.check_tiles(GOOD_TILES, 19600, GOOD_TILES["digest"]) == []
    assert checks.check_tiles(GOOD_TILES, 19600, None) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        {"images": 19599},  # one image lost
        {"digest": 42},  # a tile changed
        {"tiles": 0},  # empty output
    ],
)
def test_check_tiles_rejects_corruption(corrupt):
    assert checks.check_tiles({**GOOD_TILES, **corrupt}, 19600, GOOD_TILES["digest"])


def _staged_good():
    first = {s: "completed" for s in checks.STAGED_TABLES}
    resume = {s: "skipped" for s in checks.STAGED_TABLES}
    rows = {"validated": 1000, "encoded": 980, "pip_pairs": 120, "tiles": 900}
    lineage = [
        {"stage": s, "status": "completed", "rows_out": rows[t]} for s, t in checks.STAGED_TABLES.items()
    ] + [{"stage": s, "status": "skipped"} for s in checks.STAGED_TABLES]
    return dict(first=first, resume=resume, lineage=lineage, rows=rows, tile_sum=980, n_images=1000, n_valid=980)


def test_check_staged_accepts_correct():
    assert checks.check_staged(**_staged_good()) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda g: g["resume"].update(tile="completed"),  # resume recomputed a stage
        lambda g: g["first"].update(encode="skipped"),  # stale checkpoint reused
        lambda g: g["rows"].update(pip_pairs=119),  # table disagrees with lineage
        lambda g: g["lineage"][0].update(rows_out=999),  # lineage disagrees with table
        lambda g: g.update(tile_sum=979),  # tiles lost an image
        lambda g: g["rows"].update(encoded=981) or g["lineage"][1].update(rows_out=981),  # a dirty image got through
    ],
)
def test_check_staged_rejects_corruption(corrupt):
    g = _staged_good()
    corrupt(g)
    assert checks.check_staged(**g)


def test_staged_table_readers(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "tiles" / "data"
    d.mkdir(parents=True)
    pq.write_table(pa.table({"tile_id": [1, 2, 3], "n_images": [4, 5, 6]}), d / "part-0.parquet")
    assert checks.table_rows(str(tmp_path), "tiles") == 3
    assert checks.tile_image_sum(str(tmp_path)) == 15


# --------------------------------------------------------------- rulepack


@pytest.fixture(scope="module")
def rp(tmp_path_factory):
    out = tmp_path_factory.mktemp("rp")
    inp = inputs.make_rulepack(str(out / "inputs"), seed=5)
    expected = checks.duckdb_expected(inp.paths, inp.rulepack, str(out))
    return inp, expected


def _report_from(inp, expected) -> dict:
    """A report in the engine's shape that agrees with ``expected``."""
    evidence = {
        "enum": lambda n: {"out_of_set": {"count": n, "rows": []}},
        "range": lambda n: {"out_of_bounds": {"count": n, "rows": []}},
        "foreign_key": lambda n: {"missing_values": [], "missing_count_estimate": n},
    }
    resources = {}
    for r in inp.rulepack["rules"]:
        n = expected["counts"][r["id"]]
        status = "PASS" if n == 0 else r["severity"].upper()
        ev = {"count": 0} if n == 0 else evidence.get(r["type"], lambda n: {"count": n})(n)
        resources.setdefault(r["config"]["pattern"], []).append({"id": r["id"], "type": r["type"], "status": status, "evidence": ev})
    return {
        "summary": dict(expected["summary"]),
        "resources": [{"name": k, "rules": v} for k, v in resources.items()],
        "attestation": {"inputs": [{"name": k, "rows": v} for k, v in expected["rows"].items()]},
    }


def test_rulepack_mix_is_fixed_across_seeds(tmp_path):
    """The benchmark's own table sizes: every seed gives the same mix."""
    for seed in (0, 1, 2, 3):
        inp = inputs.make_rulepack(str(tmp_path / str(seed)), seed)
        exp = checks.duckdb_expected(inp.paths, inp.rulepack, str(tmp_path))
        assert exp["summary"] == {"pass": 3, "warn": 4, "fail": 2}, (seed, exp)
        shutil.rmtree(tmp_path / str(seed))


def test_threshold_family_moves_counts(rp, tmp_path):
    """Each member of a threshold family changes its rule's count on the
    same data, without changing the rule's outcome."""
    inp, _ = rp
    counts = [checks.duckdb_expected(inp.paths, inputs.rulepack_for(seed), str(tmp_path))["counts"] for seed in range(6)]
    assert len({c["li_discount_range"] for c in counts}) == 2
    assert len({c["ord_price_range"] for c in counts}) == 3
    assert all(c["li_discount_range"] > 0 and c["ord_price_range"] > 0 for c in counts)


def test_check_report_accepts_correct(rp):
    inp, expected = rp
    assert checks.check_report(_report_from(inp, expected), expected) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rep: rep["resources"][0]["rules"][3]["evidence"]["out_of_bounds"].update(count=1),  # wrong count
        lambda rep: rep["summary"].update(fail=rep["summary"]["fail"] - 1, warn=rep["summary"]["warn"] + 1),
        lambda rep: rep["resources"][0]["rules"][6]["evidence"].update(missing_count_estimate=0),  # fk count lost
        lambda rep: rep["resources"][0]["rules"].pop(),  # a rule went missing
        lambda rep: rep["attestation"]["inputs"][0].update(rows=1),  # partial read
        lambda rep: rep["resources"][1]["rules"][0].update(status="FAIL", evidence={"count": 3}),  # false failure
    ],
)
def test_check_report_rejects_corruption(rp, corrupt):
    inp, expected = rp
    rep = _report_from(inp, expected)
    assert rep["resources"][0]["rules"][3]["id"] == "li_discount_range"
    assert rep["resources"][0]["rules"][6]["id"] == "li_orders_fk"
    corrupt(rep)
    assert checks.check_report(rep, expected)


def test_duckdb_oracle_sees_planted_violations(rp, tmp_path):
    """The oracle itself is not vacuous: the planted violations show up."""
    inp, expected = rp
    c = expected["counts"]
    assert c["li_required"] == c["li_unique_line"] == c["ord_unique"] == 0
    assert all(c[k] > 0 for k in ("li_shipmode_enum", "li_discount_range", "li_comment_regex",
                                   "li_comment_non_empty", "li_orders_fk", "ord_price_range"))
    bad = copy.deepcopy(inp.rulepack)
    bad["rules"][3]["config"]["max"] = 1.0  # every discount in range now
    assert checks.duckdb_expected(inp.paths, bad, str(tmp_path))["counts"]["li_discount_range"] == 0


# ------------------------------------------------------------------ trace


def test_self_time_subtracts_overlapping_children():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "a", "parent": 0, "start": 3.0, "end": 5.0},  # overlaps (another thread)
        {"id": 3, "name": "b", "parent": 0, "start": 6.0, "end": 7.0},
        {"id": 4, "name": "c", "parent": 3, "start": 6.5, "end": 7.0},
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tr.wall("a", 0) == pytest.approx(4.0)
    assert tr.self_time(tr.spans[3]) == pytest.approx(0.5)


# -------------------------------------------------------------- entry point


def test_run_fails_without_the_engine(tmp_path):
    """Outside a source checkout the benchmark exits non-zero, printing no result."""
    here = os.path.dirname(os.path.abspath(__file__))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "north_fused", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_benchmark_json_matches_the_metrics_printed():
    """BENCHMARK.json declares exactly the workloads and metrics run.py prints."""
    import json

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
