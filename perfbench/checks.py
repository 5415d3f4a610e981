"""Output checks, run after the timed passes.

Registry ops are compared once per run against their DuckDB oracle
(`queries_registry.ORACLES`) with the repository's own order-insensitive
comparator, `tests/parity.py`, loaded read-only.

`cdr_etl` is checked against what the generator wrote:

- every `LoadReport` counter of every pass equals the manifest exactly;
- both dimension tables hold every generated feature;
- the top-k result (before and after the incremental load) equals DuckDB
  restating the cleansing rules over the CSVs;
- the hourly view, registered over the warehouse as it stands after the
  incremental load, equals DuckDB over all three generated days.

A missing input, a missing result or a mismatch is a failure; nothing
passes because there was nothing to compare.

Standing defects are known mismatches of the engine. Each is probed once
per run and named in the output, but does not fail the run; a probe that
stops finding its defect says so, and should then become a check.
"""

from __future__ import annotations

import importlib.util
import math
import os

import duckdb

TRAFFIC_METRICS = ["smsin", "smsout", "callin", "callout", "internet"]


def load_parity(root: str):
    path = os.path.join(root, "tests", "parity.py")
    if not os.path.exists(path):
        raise FileNotFoundError(f"comparator not found: {path}")
    spec = importlib.util.spec_from_file_location("_perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_registry(root: str, tier: str, ops: list[str], last_df: dict, oracles: dict) -> dict[str, str]:
    """Map of op -> failure reason, for every op that failed its check."""
    failures: dict[str, str] = {}
    try:
        parity = load_parity(root)
        con = parity.duck_connection(tier)
    except Exception as e:
        return {op: f"oracle unavailable: {type(e).__name__}: {e}" for op in ops}
    for op in ops:
        if op not in last_df:
            failures[op] = "no result to check (the op raised)"
            continue
        if op not in oracles:
            failures[op] = "no oracle registered"
            continue
        try:
            ok, msg = parity.compare(last_df[op], con, oracles[op])
        except Exception as e:
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            failures[op] = msg
    con.close()
    return failures


# --------------------------------------------------------------------------
# cdr_etl
# --------------------------------------------------------------------------


def _cleansed_sql(pattern: str) -> str:
    metrics = ", ".join(
        f"greatest(coalesce(try_cast({m} AS DOUBLE), 0), 0) AS {m}" for m in TRAFFIC_METRICS
    )
    return f"""
      SELECT try_strptime(datetime, '%Y-%m-%d %H:%M:%S') AS dt,
             try_cast(CellID AS BIGINT) AS cell_id, {metrics}
      FROM read_csv('{pattern}', header = true, all_varchar = true)
    """


def _hourly_sql(patterns: list[str]) -> str:
    union = " UNION ALL ".join(_cleansed_sql(p) for p in patterns)
    sums = ", ".join(f"sum({m}) AS total_{m}" for m in TRAFFIC_METRICS)
    total = " + ".join(TRAFFIC_METRICS)
    return f"""
      SELECT date_trunc('hour', dt) AS hour, cell_id, {sums}, sum({total}) AS total_activity
      FROM ({union}) WHERE dt IS NOT NULL AND cell_id BETWEEN 0 AND 9999
      GROUP BY 1, 2
    """


def _top_sql(patterns: list[str], limit: int = 10) -> str:
    return f"""
      SELECT cell_id, avg(total_activity) AS avg_load FROM ({_hourly_sql(patterns)})
      WHERE hour >= TIMESTAMP '2013-11-01 00:00:00'
      GROUP BY cell_id ORDER BY avg_load DESC, cell_id LIMIT {limit}
    """


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _same_top(got: list[tuple] | None, want: list[tuple]) -> str | None:
    if got is None:
        return "no result"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if g[0] != w[0] or not _close(g[1], w[1]):
            return f"row {g} != expected {w}"
    return None


def _day_patterns(cdr_dir: str, incremental: bool) -> list[str]:
    pats = [os.path.join(cdr_dir, "days", "sms-call-internet-mi-*.csv")]
    if incremental:
        pats.append(os.path.join(cdr_dir, "inc", "sms-call-internet-mi-*.csv"))
    return pats


def _hourly_view_diff(spark, con, patterns: list[str], out: str) -> str | None:
    """None if `v_hourly_traffic` equals DuckDB over the CSVs, else why not."""
    spark.table("v_hourly_traffic").write.mode("overwrite").parquet(out)
    cols = ["total_" + m for m in TRAFFIC_METRICS] + ["total_activity"]
    diff = " OR ".join(
        f"abs(coalesce(s.{c}, -1) - coalesce(d.{c}, -2)) > 1e-9 * greatest(1, abs(d.{c}))"
        for c in cols
    )
    n_bad, n_rows = con.execute(f"""
        WITH d AS ({_hourly_sql(patterns)}),
             s AS (SELECT * FROM read_parquet('{out}/*.parquet'))
        SELECT count(*) FILTER (WHERE {diff}), count(*)
        FROM s FULL OUTER JOIN d ON s.hour = d.hour AND s.cell_id = d.cell_id
    """).fetchone()
    if n_rows == 0 or n_bad:
        return f"{n_bad} of {n_rows} hour-cells differ from DuckDB"
    return None


def cdr_standing_defects(spark, cdr_dir: str, scratch: str) -> dict[str, str | None]:
    """Probe of the known `cdr_etl` defect, on the views the last pass
    left: `v_hourly_traffic` reads `fact_traffic_milan` through a temp
    view over `spark.read.parquet`, whose file listing is fixed when
    `run_all` registers it, so the day `load_traffic_incremental` appends
    never shows in the view. Maps the defect to what the probe saw, or
    None if the view now includes the appended day."""
    name = "v_hourly_traffic_misses_incremental_day"
    con = duckdb.connect()
    try:
        return {name: _hourly_view_diff(spark, con, _day_patterns(cdr_dir, True),
                                        os.path.join(scratch, "view_before_refresh.parquet"))}
    except Exception as e:
        return {name: f"probe failed: {type(e).__name__}: {e}"}
    finally:
        con.close()


def registry_standing_defects(root: str, spark, tier: str, queries: dict, oracles: dict) -> dict[str, str | None]:
    """Probe of the known registry defect: on the larger generated tier,
    `gap_fill_hourly` differs from its oracle in the sixth decimal place
    of a rounded average. (On the benchmark's own tier it matches, and the
    op is checked there like every other op of the mix.)"""
    op = "gap_fill_hourly"
    try:
        df = queries[op](spark, tier)
    except Exception as e:
        return {op: f"probe failed: {type(e).__name__}: {e}"}
    return {op: check_registry(root, tier, [op], {op: df}, oracles).get(op)}


def check_cdr(spark, cdr_dir: str, manifest: dict, passes: list, scratch: str,
              warehouse: str) -> dict[str, str]:
    """Map of check -> failure reason. Registers the warehouse views
    again before it reads `v_hourly_traffic`."""
    failures: dict[str, str] = {}
    files = manifest["files"]
    days = {k: v for k, v in files.items() if k.startswith("days/")}
    traffic = [v for k, v in days.items() if "sms-call-internet" in k]
    mobility = [v for k, v in days.items() if "mi-to-provinces" in k]
    inc = [v for k, v in files.items() if k.startswith("inc/")]
    want_traffic = {
        "loaded_rows": sum(f["loaded_rows"] for f in traffic),
        "invalid_dates": sum(f["invalid_dates"] for f in traffic),
        "rejected_cells": sum(f["rejected_cells"] for f in traffic),
        "negatives": {m: sum(f["negatives"][m] for f in traffic) for m in TRAFFIC_METRICS},
    }
    want_mobility = {
        "loaded_rows": sum(f["loaded_rows"] for f in mobility),
        "invalid_dates": sum(f["invalid_dates"] for f in mobility),
    }
    want_inc = sum(f["rows"] for f in inc)
    if not traffic or not mobility or not inc:
        failures["manifest"] = "manifest lists no traffic, mobility or incremental files"
    for p in passes:
        reports = p.outputs.get("reports")
        if reports is None:
            failures[f"pass{p.index}.reports"] = "run_all returned no reports"
            continue
        t, m = reports["traffic"], reports["mobility"]
        got_t = {"loaded_rows": t.loaded_rows, "invalid_dates": t.invalid_dates,
                 "rejected_cells": t.rejected_cells, "negatives": t.negatives}
        if got_t != want_traffic or t.skipped:
            failures[f"pass{p.index}.traffic_report"] = f"{got_t} != manifest {want_traffic}"
        got_m = {"loaded_rows": m.loaded_rows, "invalid_dates": m.invalid_dates}
        if got_m != want_mobility or m.skipped:
            failures[f"pass{p.index}.mobility_report"] = f"{got_m} != manifest {want_mobility}"
        i = p.outputs.get("incremental")
        if i is None or i.loaded_rows != want_inc or i.skipped:
            got_i = None if i is None else i.loaded_rows
            failures[f"pass{p.index}.incremental_report"] = f"{got_i} != manifest {want_inc}"

    con = duckdb.connect()
    last = passes[-1].outputs
    for key, inc in (("top", False), ("top_inc", True)):
        pats = _day_patterns(cdr_dir, inc)
        want = [tuple(r) for r in con.execute(_top_sql(pats)).fetchall()]
        err = _same_top(last.get(key), want) if want else "DuckDB found no rows"
        if err:
            failures[key] = err

    try:
        from milan_telecom_etl__spark.pipeline import Warehouse

        Warehouse(spark, warehouse).register_views()
        err = _hourly_view_diff(spark, con, _day_patterns(cdr_dir, True),
                                os.path.join(scratch, "hourly_view.parquet"))
        if err:
            failures["hourly_view"] = err
    except Exception as e:
        failures["hourly_view"] = f"{type(e).__name__}: {e}"

    for table, want in (("dim_grid_milan", manifest["grid_cells"]),
                        ("dim_provinces_it", manifest["provinces"])):
        try:
            got = spark.table(table).count()
        except Exception as e:
            got = f"{type(e).__name__}: {e}"
        if got != want:
            failures[table] = f"{got} rows, expected {want}"
    con.close()
    return failures
