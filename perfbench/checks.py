"""Correctness checks behind ``ok_frac``.

Each check returns a list of problems; an empty list means the iteration's
output is correct. They are plain functions over plain values, so the
benchmark's tests can feed them deliberately corrupted results.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

# ---------------------------------------------------------------- north


def check_tiles(obs: dict, n_valid: int, ref_digest: int | None) -> list[str]:
    """Fused pipeline: the tile counts sum to the generator's valid-image
    count, and the order-free tiles digest matches the run's first one."""
    bad = []
    if not obs.get("tiles"):
        bad.append("no tiles")
    if obs.get("images") != n_valid:
        bad.append(f"tile n_images sum {obs.get('images')} != {n_valid} valid images")
    if ref_digest is not None and obs.get("digest") != ref_digest:
        bad.append(f"tiles digest {obs.get('digest')} != first iteration's {ref_digest}")
    return bad


STAGED_TABLES = {
    "validate": "validated",
    "encode": "encoded",
    "spatial_join": "pip_pairs",
    "tile": "tiles",
}


def read_jsonl(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f]


def table_rows(out_dir: str, table: str) -> int:
    return pq.read_table(os.path.join(out_dir, table, "data"), columns=[]).num_rows


def tile_image_sum(out_dir: str) -> int:
    t = pq.read_table(os.path.join(out_dir, "tiles", "data"), columns=["n_images"])
    return int(t.column("n_images").to_numpy().sum())


def check_staged(
    first: dict,
    resume: dict,
    lineage: list[dict],
    rows: dict[str, int],
    tile_sum: int,
    n_images: int,
    n_valid: int,
) -> list[str]:
    """Staged pipeline: the first run completes every stage, the re-submit
    skips every stage, each table holds the rows its lineage says, and the
    tiles add up to the valid images."""
    bad = []
    for stage in STAGED_TABLES:
        if first.get(stage) != "completed":
            bad.append(f"first run: {stage} is {first.get(stage)!r}, not completed")
        if resume.get(stage) != "skipped":
            bad.append(f"resume: {stage} is {resume.get(stage)!r}, not skipped")
    done = {r["stage"]: r for r in lineage if r.get("status") == "completed"}
    for stage, table in STAGED_TABLES.items():
        want = done.get(stage, {}).get("rows_out")
        if rows.get(table) != want:
            bad.append(f"{table}: {rows.get(table)} rows, lineage rows_out {want}")
    if rows.get("validated") != n_images:
        bad.append(f"validated: {rows.get('validated')} rows != {n_images} images")
    if rows.get("encoded") != n_valid:
        bad.append(f"encoded: {rows.get('encoded')} rows != {n_valid} valid images")
    if tile_sum != n_valid:
        bad.append(f"tile n_images sum {tile_sum} != {n_valid} valid images")
    return bad


# ------------------------------------------------------------- rulepack


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(v) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _violation_sql(rule: dict, tables: dict[str, str]) -> str:
    """DuckDB violation count for one rule, with the engine's semantics:
    string-first reads, exact counts, fk counted as distinct missing values."""
    cfg, t = rule["config"], rule["type"]
    src = f"read_parquet({_lit(os.path.join(tables[cfg['pattern']], '*.parquet'))})"

    def s(c):
        return f"CAST({_q(c)} AS VARCHAR)"

    if t == "required":
        parts = [f"count_if({s(c)} IS NULL OR trim({s(c)}) = '')" for c in cfg["columns"]]
        return f"SELECT {' + '.join(parts)} FROM {src}"
    if t == "unique":
        keys = ", ".join(s(c) for c in cfg["columns"])
        return f"SELECT count(*) - count(DISTINCT ({keys})) FROM {src}"
    if t == "enum":
        allow = ", ".join(_lit(a) for a in cfg["allow"])
        c = s(cfg["column"])
        return f"SELECT count_if({c} IS NULL OR {c} NOT IN ({allow})) FROM {src}"
    if t == "range":
        d = f"TRY_CAST({s(cfg['column'])} AS DOUBLE)"
        cond = [f"{d} IS NULL"]
        if cfg.get("min") is not None:
            cond.append(f"{d} < {float(cfg['min'])!r}")
        if cfg.get("max") is not None:
            cond.append(f"{d} > {float(cfg['max'])!r}")
        return f"SELECT count_if({' OR '.join(cond)}) FROM {src}"
    if t == "regex":
        c = s(cfg["column"])
        blank = f"({c} IS NULL OR trim(coalesce({c}, '')) = '')"
        return (
            f"SELECT count_if(NOT regexp_full_match(coalesce({c}, ''), {_lit(cfg['regex'])})"
            f" AND NOT {blank}) FROM {src}"
        )
    if t == "non_empty_trimmed":
        c = s(cfg["column"])
        return f"SELECT count_if({c} IS NULL OR length(trim({c})) = 0) FROM {src}"
    if t == "foreign_key":
        frm, to = cfg["from"], cfg["to"]
        left = f"read_parquet({_lit(os.path.join(tables[frm['table']], '*.parquet'))})"
        right = f"read_parquet({_lit(os.path.join(tables[to['table']], '*.parquet'))})"
        return (
            f"SELECT count(*) FROM (SELECT DISTINCT {s(frm['field'])} AS v FROM {left}"
            f" WHERE {_q(frm['field'])} IS NOT NULL) l"
            f" WHERE v NOT IN (SELECT {s(to['field'])} FROM {right}"
            f" WHERE {_q(to['field'])} IS NOT NULL)"
        )
    raise ValueError(f"no DuckDB oracle for rule type {t!r}")


def duckdb_expected(paths: dict[str, str], rulepack: dict, tmp: str) -> dict:
    """Independent DuckDB answer for a rulepack run: per-rule violation
    counts, the PASS/WARN/FAIL summary they imply, and input row counts."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = {_lit(tmp)}")
        con.execute("SET threads = 2")
        counts = {r["id"]: int(con.execute(_violation_sql(r, paths)).fetchone()[0]) for r in rulepack["rules"]}
        rows = {
            name: int(con.execute(f"SELECT count(*) FROM read_parquet({_lit(os.path.join(p, '*.parquet'))})").fetchone()[0])
            for name, p in paths.items()
        }
    finally:
        con.close()
    summary = {"pass": 0, "warn": 0, "fail": 0}
    for r in rulepack["rules"]:
        summary["pass" if counts[r["id"]] == 0 else r["severity"]] += 1
    return {"counts": counts, "summary": summary, "rows": rows}


def report_count(rule: dict) -> int:
    """A report rule's violation count, wherever its rule type puts it."""
    if rule["status"] == "PASS":
        return 0
    ev = rule.get("evidence") or {}
    for nested in ("out_of_set", "out_of_bounds"):
        if isinstance(ev.get(nested), dict):
            return int(ev[nested]["count"])
    if "missing_count_estimate" in ev:
        return int(ev["missing_count_estimate"])
    return int(ev.get("count", -1))


def check_report(report: dict, expected: dict) -> list[str]:
    """The report's summary, per-rule counts and input row counts equal the
    DuckDB answer."""
    bad = []
    if report.get("summary") != expected["summary"]:
        bad.append(f"summary {report.get('summary')} != {expected['summary']}")
    seen = {}
    for res in report.get("resources", []):
        for r in res.get("rules", []):
            seen[r["id"]] = report_count(r)
    if seen != expected["counts"]:
        diff = {k: (seen.get(k), v) for k, v in expected["counts"].items() if seen.get(k) != v}
        extra = sorted(set(seen) - set(expected["counts"]))
        bad.append(f"rule counts (report, duckdb) differ: {diff} extra={extra}")
    rows = {a["name"]: a["rows"] for a in report.get("attestation", {}).get("inputs", [])}
    if rows != expected["rows"]:
        bad.append(f"attested rows {rows} != {expected['rows']}")
    return bad
