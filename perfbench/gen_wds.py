"""Seeded StatCan-WDS full-table CSV generator for the benchmark.

Each product (one StatCan table, "PID") is a long-format CSV with the
WDS column order: REF_DATE, GEO, DGUID, the product's dimension
columns, UOM, UOM_ID, SCALAR_FACTOR, SCALAR_ID, VECTOR, COORDINATE,
VALUE, STATUS, SYMBOL, TERMINATED, DECIMALS. Every field is quoted, as
in the files StatCan publishes.

What the data holds, per product:

- a vector per (GEO, dimension member, dimension member) coordinate;
- monthly ("2019-04") or annual ("2019") REF_DATE, one frequency per
  product;
- revisions: some observations appear again as a preliminary release
  (SYMBOL "p") and some once more as a revised release (SYMBOL "r").
  The latest release wins: "r" over the unmarked final over "p";
- suppressed cells: VALUE empty and STATUS set ("x", "..", "F");
- terminated vectors: TERMINATED "t" and no observations after the
  termination period;
- a few malformed lines, cut off before the VECTOR field.

Product sizes are skewed: target row counts form a geometric ladder
between the given bounds, so one run mixes small, fixed-cost products
with large ones, and the total input size is the same for every seed.
The seed sets which product gets which size and everything else. The
same seed always gives byte-identical files.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

GEOS = [
    ("Canada", "2016A000011124"),
    ("Newfoundland and Labrador", "2016A000210"),
    ("Prince Edward Island", "2016A000211"),
    ("Nova Scotia", "2016A000212"),
    ("New Brunswick", "2016A000213"),
    ("Quebec", "2016A000224"),
    ("Ontario", "2016A000235"),
    ("Manitoba", "2016A000246"),
    ("Saskatchewan", "2016A000247"),
    ("Alberta", "2016A000248"),
    ("British Columbia", "2016A000259"),
    ("Yukon", "2016A000260"),
    ("Northwest Territories", "2016A000261"),
    ("Nunavut", "2016A000262"),
]
DIMENSIONS = ["Characteristics", "Sector"]
STATUS_CODES = ["x", "..", "F"]
UOMS = [("Dollars", "81", "thousands", "3"), ("Index", "347", "units", "0"),
        ("Persons", "249", "units", "0"), ("Percent", "239", "units", "0")]
MONTHLY_YEARS = (2020, 2025)  # [start, end)
ANNUAL_YEARS = (2010, 2025)
HEADER = (["REF_DATE", "GEO", "DGUID"] + DIMENSIONS
          + ["UOM", "UOM_ID", "SCALAR_FACTOR", "SCALAR_ID", "VECTOR",
             "COORDINATE", "VALUE", "STATUS", "SYMBOL", "TERMINATED", "DECIMALS"])


@dataclass(frozen=True)
class Product:
    pid: str
    path: str
    rows: int  # data lines, malformed ones included
    geos: int
    monthly: bool


def _periods(monthly: bool) -> list[str]:
    if monthly:
        y0, y1 = MONTHLY_YEARS
        return [f"{y}-{m:02d}" for y in range(y0, y1) for m in range(1, 13)]
    y0, y1 = ANNUAL_YEARS
    return [str(y) for y in range(y0, y1)]


def _q(fields) -> str:
    return ",".join(f'"{f}"' for f in fields)


def _product_lines(rng: np.random.Generator, idx: int, target_rows: int) -> tuple[list[str], int, bool]:
    monthly = bool(idx % 3 != 2)
    periods = _periods(monthly)
    n_geo = int(rng.integers(4, len(GEOS) + 1))
    n_cells = max(1, round(target_rows / (len(periods) * 1.15)))
    n_a = max(1, int(math.sqrt(n_cells / n_geo)))
    n_b = max(1, math.ceil(n_cells / (n_geo * n_a)))
    uom, uom_id, scalar, scalar_id = UOMS[idx % len(UOMS)]
    decimals = 1
    lines: list[str] = []
    vec_base = 100_000_000 + idx * 1_000_000
    v = 0
    for g in range(n_geo):
        geo, dguid = GEOS[g]
        for a in range(n_a):
            for b in range(n_b):
                v += 1
                vector = f"v{vec_base + v}"
                coord = f"{g + 1}.{a + 1}.{b + 1}"
                terminated = rng.random() < 0.05
                last = (int(rng.integers(len(periods) // 2, len(periods)))
                        if terminated else len(periods))
                level = float(rng.uniform(10.0, 5000.0))
                steps = rng.normal(0.0, level * 0.01, last)
                values = np.round(level + np.cumsum(steps), 1)
                suppressed = rng.random(last) < 0.03
                prelim = rng.random(last) < 0.10
                revised = rng.random(last) < 0.05
                jitter = np.round(rng.normal(0.0, level * 0.005, (2, last)), 1)
                fixed = [geo, dguid, f"Characteristic {a + 1}", f"Sector {b + 1}",
                         uom, uom_id, scalar, scalar_id, vector, coord]
                tail_flag = "t" if terminated else ""
                for t in range(last):
                    ref = periods[t]
                    if suppressed[t]:
                        status = STATUS_CODES[t % len(STATUS_CODES)]
                        lines.append(_q([ref, *fixed, "", status, "", tail_flag, decimals]))
                        continue
                    val = values[t]
                    if prelim[t]:
                        lines.append(_q([ref, *fixed, f"{val + jitter[0, t]:.1f}", "", "p", tail_flag, decimals]))
                    lines.append(_q([ref, *fixed, f"{val:.1f}", "", "", tail_flag, decimals]))
                    if revised[t]:
                        lines.append(_q([ref, *fixed, f"{val + jitter[1, t]:.1f}", "", "r", tail_flag, decimals]))
    # malformed lines: cut off after DGUID, so VECTOR and every later field are missing
    for k in range(3):
        at = int(rng.integers(0, len(lines) + 1))
        lines.insert(at, _q([periods[k % len(periods)], GEOS[0][0], GEOS[0][1]]))
    return lines, n_geo, monthly


def write(seed: int, out_dir: str, n_products: int, min_rows: int, max_rows: int) -> list[Product]:
    """Write `n_products` product CSVs to `out_dir`; target row counts
    are geometrically spaced from `min_rows` to `max_rows`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    sizes = np.geomspace(min_rows, max_rows, n_products)
    rng.shuffle(sizes)
    products = []
    for i, size in enumerate(sizes):
        pid = f"{3610000 + 100 * i + int(rng.integers(0, 100)):08d}"
        lines, n_geo, monthly = _product_lines(rng, i, int(size))
        path = os.path.join(out_dir, f"{pid}.csv")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(_q(HEADER) + "\n")
            f.write("\n".join(lines) + "\n")
        products.append(Product(pid, path, len(lines), n_geo, monthly))
    return products
