"""Seeded generator of Milan-format CDR inputs for the `cdr_etl` workload.

Writes, for one seed:

- `days/sms-call-internet-mi-2013-11-0{1,2}.csv` and
  `days/mi-to-provinces-2013-11-0{1,2}.csv`: two days of traffic and
  mobility at 10-minute grain;
- `inc/sms-call-internet-mi-2013-11-03.csv`: a third traffic day for
  the incremental load, in its own directory;
- `grid.geojson` (10,000 lon/lat cells) and `provinces.geojson`
  (110 EPSG:32632 provinces);
- `manifest.json`: rows per file and the exact count of every injected
  defect, computed from the generated arrays, so the loaders' counters
  can be checked for equality.

Injected defects, per the reference's data: 43-75% empty metric cells
per traffic column, ~0.2% unparseable datetimes, ~0.1% out-of-range
CellIDs, ~0.1% negative metrics, ~1% unknown province names, a
lognormal `internet` column with a heavy tail, and upper-case,
space-padded, fixup-map province spellings.

Everything is vectorised with NumPy and written by Arrow's CSV writer.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

N_CELLS = 10_000
N_PROVINCES = 110
# The reference's days hold about 1.9M traffic rows; half a percent of
# that keeps five steady passes and the first one within a run's budget.
TRAFFIC_ROWS_PER_DAY = 10_000
MOBILITY_ROWS_PER_DAY = 11_500  # the reference's 2.2M : 1.9M per-day ratio
DAYS = ["2013-11-01", "2013-11-02"]
INC_DAY = "2013-11-03"

TRAFFIC_METRICS = ["smsin", "smsout", "callin", "callout", "internet"]
# share of empty cells per traffic column (FIXTURES.md section 1)
TRAFFIC_NULL = {"smsin": 0.57, "smsout": 0.75, "callin": 0.74, "callout": 0.55, "internet": 0.57}
MOBILITY_NULL = {"cell2Province": 0.39, "Province2cell": 0.37}
BAD_DATE_RATE = 0.002
BAD_CELL_RATE = 0.001
NEGATIVE_RATE = 0.001
UNKNOWN_PROVINCE_RATE = 0.01

# (spelling in the CSV, name in the provinces file): the seven fixup-map
# provinces arrive in the pre-title-case spelling the loader repairs
FIXUP_PROVINCES = [
    ("MONZA E DELLA BRIANZA", "Monza e della Brianza"),
    ("REGGIO NELL'EMILIA", "Reggio nell'Emilia"),
    ("REGGIO DI CALABRIA", "Reggio di Calabria"),
    ("PESARO E URBINO", "Pesaro e Urbino"),
    ("MASSA-CARRARA", "Massa Carrara"),
    ("VALLE D'AOSTA", "Aosta"),
    ("BOLZANO/BOZEN", "Bolzano"),
]
PLAIN_PROVINCES = ["Milano", "Pavia", "Bergamo", "Como", "Lodi", "Torino", "Novara", "Trento"]
COUNTRY_CODES = np.array([0, 39, 33, 34, 44, 49, 1, 86, 91, 7, 40, 48, 355, 212, 20, 63])


def _province_names() -> tuple[list[str], list[str]]:
    """110 (csv spelling, canonical name) pairs."""
    pairs = list(FIXUP_PROVINCES) + [(n.upper(), n) for n in PLAIN_PROVINCES]
    for i in range(N_PROVINCES - len(pairs)):
        pairs.append((f"PROVINCIA {i:03d}", f"Provincia {i:03d}"))
    return [p[0] for p in pairs], [p[1] for p in pairs]


def _timestamps(rng: np.random.Generator, day: str, n: int) -> tuple[pa.Array, int]:
    """10-minute-grain datetimes within `day`, ~0.2% replaced by
    strings no lenient parse accepts. Returns the column and the number
    of bad values."""
    slots = rng.integers(0, 144, n).astype("timedelta64[m]") * 10
    ts = np.datetime64(day, "s") + slots
    strs = pc.replace_substring(pa.array(np.datetime_as_string(ts, unit="s")), "T", " ")
    bad = rng.random(n) < BAD_DATE_RATE
    garbage = pa.array(np.where(rng.random(n) < 0.5, "not-a-date", f"{day} 25:61:00"))
    return pc.if_else(pa.array(bad), garbage, strs), int(bad.sum())


def _cells(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """CellIDs over a skewed in-range popularity, ~0.1% out of range
    (10000, the reference's legitimate off-by-one, or far beyond)."""
    cells = np.minimum(rng.zipf(1.3, n) - 1, N_CELLS - 1)
    cells = rng.permutation(N_CELLS)[cells]
    bad = rng.random(n) < BAD_CELL_RATE
    cells = np.where(bad, np.where(rng.random(n) < 0.5, 10_000, 10_000 + rng.integers(1, 90_000, n)), cells)
    return cells.astype(np.int64), bad


def _metric(rng: np.random.Generator, n: int, null_rate: float, heavy: bool) -> tuple[pa.Array, int]:
    if heavy:  # p50 about 0.23, max in the tens of thousands at full scale
        vals = rng.lognormal(-1.47, 2.3, n)
    else:
        vals = rng.lognormal(-0.5, 1.2, n)
    vals = np.round(vals, 4)
    neg = rng.random(n) < NEGATIVE_RATE
    vals = np.where(neg, -vals - 0.5, vals)
    null = rng.random(n) < null_rate
    return pa.array(vals, mask=null), int((neg & ~null).sum())


def _traffic_day(rng: np.random.Generator, day: str, n: int) -> tuple[pa.Table, dict]:
    dt_col, bad_dates = _timestamps(rng, day, n)
    cells, bad_cells = _cells(rng, n)
    bad_date_mask = pc.is_null(pc.strptime(dt_col, "%Y-%m-%d %H:%M:%S", "s", error_is_null=True))
    cols = {
        "datetime": dt_col,
        "CellID": pa.array(cells),
        "countrycode": pa.array(rng.choice(COUNTRY_CODES, n, p=_country_p())),
    }
    negatives = {}
    for m in TRAFFIC_METRICS:
        cols[m], negatives[m] = _metric(rng, n, TRAFFIC_NULL[m], heavy=(m == "internet"))
    rejected_any = int((np.asarray(bad_date_mask) | bad_cells).sum())
    defects = {
        "rows": n,
        "invalid_dates": bad_dates,
        "rejected_cells": int(bad_cells.sum()),
        "negatives": negatives,
        "loaded_rows": n - rejected_any,
        "empty_metric_cells": {m: int(cols[m].null_count) for m in TRAFFIC_METRICS},
    }
    return pa.table(cols), defects


def _country_p() -> np.ndarray:
    p = np.full(len(COUNTRY_CODES), 0.3 / (len(COUNTRY_CODES) - 2))
    p[0], p[1] = 0.4, 0.3
    return p


def _mobility_day(rng: np.random.Generator, day: str, n: int) -> tuple[pa.Table, dict]:
    csv_names, _ = _province_names()
    dt_col, bad_dates = _timestamps(rng, day, n)
    cells, bad_cells = _cells(rng, n)
    idx = rng.integers(0, N_PROVINCES, n)
    names = np.array(csv_names, dtype=object)[idx]
    pad = rng.random(n) < 0.05
    names = np.where(pad, "  " + names + " ", names)
    unknown = rng.random(n) < UNKNOWN_PROVINCE_RATE
    names = np.where(unknown, np.array([f"ATLANTIS {k}" for k in range(7)], dtype=object)[idx % 7], names)
    cols = {"datetime": dt_col, "CellID": pa.array(cells), "provinceName": pa.array(names.astype(str))}
    negatives = {}
    for c in MOBILITY_NULL:
        cols[c], negatives[c] = _metric(rng, n, MOBILITY_NULL[c], heavy=False)
    valid_date = ~np.asarray(pc.is_null(pc.strptime(dt_col, "%Y-%m-%d %H:%M:%S", "s", error_is_null=True)))
    defects = {
        "rows": n,
        "invalid_dates": bad_dates,
        "rejected_cells": int(bad_cells.sum()),
        "unknown_provinces": int(unknown.sum()),
        "negatives": negatives,
        "loaded_rows": int((valid_date & ~bad_cells & ~unknown).sum()),
    }
    return pa.table(cols), defects


def _square(x0: float, y0: float, d: float) -> list:
    return [[x0, y0], [x0 + d, y0], [x0 + d, y0 + d], [x0, y0 + d], [x0, y0]]


def _write_geometries(out: str) -> None:
    side = int(N_CELLS ** 0.5)
    d = 0.3 / side
    grid = [
        {
            "type": "Feature",
            "properties": {"cellId": i + 1},
            "geometry": {
                "type": "Polygon",
                "coordinates": [_square(9.0 + d * (i % side), 45.35 + d * (i // side), d)],
            },
        }
        for i in range(N_CELLS)
    ]
    with open(os.path.join(out, "grid.geojson"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": grid}, f)
    _, canon = _province_names()
    provs = [
        {
            "type": "Feature",
            "properties": {"PROVINCIA": name, "SIGLA": f"P{i:02d}"},
            "geometry": {
                "type": "MultiPolygon",
                "coordinates": [[_square(400000.0 + 20000 * (i % 11), 4900000.0 + 20000 * (i // 11), 15000.0)]],
            },
        }
        for i, name in enumerate(canon)
    ]
    with open(os.path.join(out, "provinces.geojson"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": provs}, f)


def _write_csv(table: pa.Table, path: str) -> None:
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))


def generate(out: str, seed: int, traffic_rows: int = TRAFFIC_ROWS_PER_DAY,
             mobility_rows: int = MOBILITY_ROWS_PER_DAY) -> dict:
    """Write one seed's inputs under `out` and return the manifest."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(os.path.join(out, "days"), exist_ok=True)
    os.makedirs(os.path.join(out, "inc"), exist_ok=True)
    manifest: dict = {"seed": seed, "files": {}, "raw_bytes": 0}
    jobs = [("days", "sms-call-internet-mi", d, _traffic_day, traffic_rows) for d in DAYS]
    jobs += [("days", "mi-to-provinces", d, _mobility_day, mobility_rows) for d in DAYS]
    jobs.append(("inc", "sms-call-internet-mi", INC_DAY, _traffic_day, traffic_rows))
    for sub, prefix, day, make, n in jobs:
        table, defects = make(rng, day, n)
        path = os.path.join(out, sub, f"{prefix}-{day}.csv")
        _write_csv(table, path)
        defects["bytes"] = os.path.getsize(path)
        manifest["files"][f"{sub}/{prefix}-{day}.csv"] = defects
        if sub == "days":
            manifest["raw_bytes"] += defects["bytes"]
    _write_geometries(out)
    manifest["grid_cells"] = N_CELLS
    manifest["provinces"] = N_PROVINCES
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def ensure_cdr(root: str, seed: int, keep: int = 2) -> tuple[str, dict]:
    """Return (directory, manifest) for `seed`, generating once. Other
    seeds' inputs beyond the `keep` most recent are removed so the
    cache stays small across many seeds."""
    out = os.path.join(root, f"cdr-seed{seed}")
    man = os.path.join(out, "manifest.json")
    if not os.path.exists(man):
        shutil.rmtree(out, ignore_errors=True)
        generate(out, seed)
    os.utime(out)
    others = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if d.startswith("cdr-seed")),
        key=os.path.getmtime,
    )
    for d in others[:-keep]:
        if d != out:
            shutil.rmtree(d, ignore_errors=True)
    with open(man) as f:
        return out, json.load(f)
