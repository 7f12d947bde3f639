"""Seed-derived benchmark inputs, written as parquet before any timed window.

north: the image-id window ``[seed*N, seed*N + N)`` synthesized by the
engine's public ``synth_image_rows_batch`` (with ``dirty_every`` defects)
and ``geo_for`` (10% of points in three hotspots), plus ``polygons_pdf(100)``.

rulepack: a TPC-H-shaped ``lineitem``/``orders`` pair drawn from
``numpy.random.default_rng(seed)`` and a rulepack whose thresholds come from
a fixed family. Each threshold falls between generated values, so it moves
its rule's violation count, while every seed gives the same PASS/WARN/FAIL
mix (3 PASS, 4 WARN, 2 FAIL).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_IMAGES = 20_000
DIRTY_EVERY = 50
IMAGE_FILES = 8

N_ORDERS = 150_000
N_LINES = 600_000
TABLE_FILES = 4

IMAGE_ARROW = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)
GEO_ARROW = pa.schema([("image_id", pa.string()), ("lat", pa.float64()), ("lon", pa.float64())])

SHIPMODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
RARE_SHIPMODE = "DRONE"  # outside the enum allow-list: the WARN rows
WORDS = ("quick", "final", "ironic", "pending", "bold", "furious", "regular", "even")


@dataclass
class NorthInputs:
    images: str  # parquet dir
    geo: str  # parquet dir
    polygons: pd.DataFrame
    n_images: int
    n_valid: int  # images that pass decode, dims and caption checks
    input_bytes: int
    tag: str  # content identity of this input set, for the runner's source_snaps


@dataclass
class RulepackInputs:
    paths: dict[str, str]  # input name -> parquet dir
    rulepack: dict
    rows: dict[str, int]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs)


def expected_valid(lo: int, n: int, dirty_every: int) -> int:
    """Images of ``[lo, lo+n)`` that pass decode/dims/caption: the generator
    corrupts exactly the ids with ``i % dirty_every == dirty_every - 1``."""
    dirty = sum(1 for i in range(lo, lo + n) if i % dirty_every == dirty_every - 1)
    return n - dirty


def make_north(out: str, seed: int) -> NorthInputs:
    from fairy_core_spark.datagen.images import geo_for, polygons_pdf, synth_image_rows_batch

    n, dirty_every = N_IMAGES, DIRTY_EVERY
    lo = seed * n
    img_dir, geo_dir = os.path.join(out, "images"), os.path.join(out, "geo")
    os.makedirs(img_dir)
    os.makedirs(geo_dir)
    per_file = -(-n // IMAGE_FILES)
    for k, start in enumerate(range(lo, lo + n, per_file)):
        ids = list(range(start, min(start + per_file, lo + n)))
        pdf = synth_image_rows_batch(ids, dirty_every)
        pdf["bytes"] = pdf["bytes"].map(bytes)
        name = f"part-{k:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, schema=IMAGE_ARROW, preserve_index=False), os.path.join(img_dir, name))
        image_ids = [f"img{i:010d}" for i in ids]
        lat, lon = zip(*(geo_for(x) for x in image_ids))
        geo = pd.DataFrame({"image_id": image_ids, "lat": lat, "lon": lon})
        pq.write_table(pa.Table.from_pandas(geo, schema=GEO_ARROW, preserve_index=False), os.path.join(geo_dir, name))
    return NorthInputs(
        images=img_dir,
        geo=geo_dir,
        polygons=polygons_pdf(100),
        n_images=n,
        n_valid=expected_valid(lo, n, dirty_every),
        input_bytes=dir_bytes(img_dir) + dir_bytes(geo_dir),
        tag=f"perfbench-north:seed={seed}:n={n}:dirty_every={dirty_every}",
    )


def rulepack_for(seed: int) -> dict:
    """Nine rules over lineitem and orders. The seed picks two thresholds
    from fixed families; every member changes its rule's count but keeps
    each rule's outcome:

    PASS  li_required, li_unique_line, ord_unique
    WARN  li_shipmode_enum (rare DRONE mode), li_comment_regex (digits),
          li_comment_non_empty (blank comments), ord_price_range (prices
          above the max: 1-3% of orders)
    FAIL  li_discount_range (the 0.09/0.10 discount tail above the max, or
          only its 0.10 half), li_orders_fk (orphan order keys)
    """
    disc_max = (0.08, 0.09)[seed % 2]
    price_max = (485_000.0, 490_000.0, 495_000.0)[seed % 3]
    li, od = "lineitem", "orders"
    return {
        "meta": {"name": "perfbench-preflight", "version": f"1.{seed % 6}"},
        "rules": [
            {"id": "li_required", "type": "required", "severity": "fail",
             "config": {"pattern": li, "columns": ["l_orderkey", "l_partkey", "l_suppkey", "l_shipmode"]}},
            {"id": "li_unique_line", "type": "unique", "severity": "fail",
             "config": {"pattern": li, "columns": ["l_orderkey", "l_linenumber"]}},
            {"id": "li_shipmode_enum", "type": "enum", "severity": "warn",
             "config": {"pattern": li, "column": "l_shipmode", "allow": list(SHIPMODES)}},
            {"id": "li_discount_range", "type": "range", "severity": "fail",
             "config": {"pattern": li, "column": "l_discount", "min": 0, "max": disc_max, "inclusive": True}},
            {"id": "li_comment_regex", "type": "regex", "severity": "warn",
             "config": {"pattern": li, "column": "l_comment", "regex": "[a-z ]+", "mode": "not_matches"}},
            {"id": "li_comment_non_empty", "type": "non_empty_trimmed", "severity": "warn",
             "config": {"pattern": li, "column": "l_comment"}},
            {"id": "li_orders_fk", "type": "foreign_key", "severity": "fail",
             "config": {"pattern": li, "from": {"table": li, "field": "l_orderkey"},
                        "to": {"table": od, "field": "o_orderkey"}}},
            {"id": "ord_unique", "type": "unique", "severity": "fail",
             "config": {"pattern": od, "columns": ["o_orderkey"]}},
            {"id": "ord_price_range", "type": "range", "severity": "warn",
             "config": {"pattern": od, "column": "o_totalprice", "min": 0, "max": price_max}},
        ],
    }


def _write_parts(df: pd.DataFrame, out: str) -> None:
    os.makedirs(out)
    for k, part in enumerate(np.array_split(np.arange(len(df)), TABLE_FILES)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[part], preserve_index=False),
            os.path.join(out, f"part-{k:03d}.parquet"),
            coerce_timestamps="us",  # Spark reads no nanosecond timestamps
        )


def make_rulepack(out: str, seed: int) -> RulepackInputs:
    n_orders, n_lines = N_ORDERS, N_LINES
    rng = np.random.default_rng(seed)
    day = np.datetime64("1992-01-01", "ns")
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(1, 15_000, n_orders),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_orders), 2),
            "o_orderdate": day + rng.integers(0, 2_400, n_orders) * np.timedelta64(1, "D"),
        }
    )
    okey = rng.integers(0, n_orders, n_lines)
    orphan = rng.random(n_lines) < 0.001
    okey[orphan] = n_orders + rng.integers(0, n_orders, int(orphan.sum()))
    okey.sort()  # lines grouped by order, as in TPC-H; linenumber counts within
    linenumber = pd.Series(okey).groupby(okey).cumcount().to_numpy() + 1
    # discount: 99.5% in [0, 0.08], a 0.5% tail in (0.08, 0.10] -> range FAIL
    discount = np.where(
        rng.random(n_lines) < 0.995,
        rng.integers(0, 9, n_lines) / 100,
        rng.integers(9, 11, n_lines) / 100,
    )
    shipmode = np.array(SHIPMODES, dtype=object)[rng.integers(0, len(SHIPMODES), n_lines)]
    shipmode[rng.random(n_lines) < 0.003] = RARE_SHIPMODE
    words = np.array(WORDS, dtype=object)
    comment = words[rng.integers(0, len(WORDS), n_lines)] + " " + words[rng.integers(0, len(WORDS), n_lines)]
    u = rng.random(n_lines)
    comment[u < 0.005] = comment[u < 0.005] + " 7"  # digits: regex WARN
    comment[(u >= 0.005) & (u < 0.008)] = "   "  # blank: non_empty WARN
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(1, 20_000, n_lines),
            "l_suppkey": rng.integers(1, 1_000, n_lines),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, n_lines), 2),
            "l_discount": discount,
            "l_tax": rng.integers(0, 9, n_lines) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_shipdate": day + rng.integers(0, 2_500, n_lines) * np.timedelta64(1, "D"),
            "l_shipmode": shipmode,
            "l_comment": comment,
        }
    )
    # the ".parquet" suffix is how read_input recognises the format
    paths = {t: os.path.join(out, f"{t}.parquet") for t in ("lineitem", "orders")}
    _write_parts(lineitem, paths["lineitem"])
    _write_parts(orders, paths["orders"])
    return RulepackInputs(
        paths=paths,
        rulepack=rulepack_for(seed),
        rows={"lineitem": n_lines, "orders": n_orders},
    )
