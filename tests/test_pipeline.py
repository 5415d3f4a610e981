"""Golden pipeline tests: FIXTURES.md edge cases exercised end-to-end
through the orchestrated load (CSV glob → cleanse → counters →
partitioned parquet → views → flagship query)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from milan_telecom_etl__spark.pipeline import (
    Warehouse,
    load_mobility,
    load_traffic,
    run_all,
    run_test_query,
)

TRAFFIC_CSV = """datetime,CellID,countrycode,smsin,smsout,callin,callout,internet
2013-11-01 00:00:00,1,39,1.5,2.0,,0.5,10.0
2013-11-01 00:10:00,1,39,-3.0,1.0,0.5,,2.0
not-a-date,2,39,1.0,1.0,1.0,1.0,1.0
2013-11-01 00:00:00,10000,39,5.0,5.0,5.0,5.0,5.0
2013-11-01 01:00:00,2,0,,,,,
2013-11-01 01:00:00,2,0,,,,,
"""

MOBILITY_CSV = """datetime,CellID,provinceName,cell2Province,Province2cell
2013-11-01 00:00:00,1,MILANO,1.5,
2013-11-01 00:00:00,2,  PAVIA  ,2.0,3.0
2013-11-01 00:10:00,3,VALLE D'AOSTA,1.0,1.0
2013-11-01 00:10:00,4,BOLZANO/BOZEN,-2.0,1.0
2013-11-01 00:20:00,5,ATLANTIS,9.0,9.0
bad-date,6,MILANO,1.0,1.0
2013-11-01 00:30:00,20000,MILANO,1.0,1.0
"""


def _square(lon0, lat0, d=0.01):
    return [[[lon0, lat0], [lon0 + d, lat0], [lon0 + d, lat0 + d], [lon0, lat0 + d], [lon0, lat0]]]


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csvs")
    (d / "sms-call-internet-mi-2013-11-01.csv").write_text(TRAFFIC_CSV)
    (d / "mi-to-provinces-2013-11-01.csv").write_text(MOBILITY_CSV)
    feats = [
        {
            "type": "Feature",
            "properties": {"PROVINCIA": name},
            "geometry": {
                "type": "MultiPolygon",
                "coordinates": [_square(500000.0 + 1000 * i, 5034000.0, 500.0)],
            },
        }
        for i, name in enumerate(["Milano", "Pavia", "Aosta", "Bolzano"])
    ]
    (d / "provinces.geojson").write_text(
        json.dumps({"type": "FeatureCollection", "features": feats})
    )
    grid = [
        {
            "type": "Feature",
            "properties": {"cellId": i + 1},
            "geometry": {"type": "Polygon", "coordinates": _square(9.0 + 0.01 * i, 45.35)},
        }
        for i in range(4)
    ]
    (d / "grid.geojson").write_text(json.dumps({"type": "FeatureCollection", "features": grid}))
    return d


@pytest.fixture(scope="module")
def warehouse(spark, data_dir, tmp_path_factory):
    wh_dir = str(tmp_path_factory.mktemp("wh"))
    reports = run_all(
        spark,
        wh_dir,
        str(data_dir),
        grid_file=str(data_dir / "grid.geojson"),
        provinces_file=str(data_dir / "provinces.geojson"),
    )
    return Warehouse(spark, wh_dir), reports


def test_traffic_cleansing_semantics(spark, warehouse):
    wh, reports = warehouse
    fact = spark.read.parquet(wh.path("fact_traffic_milan"))
    rows = {
        (r["datetime"].isoformat(), r["cell_id"]): r
        for r in fact.collect()
    }
    # bad date dropped; CellID=10000 dropped (the reference's documented
    # off-by-one CHECK bug, reproduced faithfully — SURVEY.md §7.4.1)
    assert fact.count() == 4  # 6 raw - bad date - cell 10000
    assert len(rows) == 3  # the duplicate PK pair shares a key
    r1 = rows[("2013-11-01T00:00:00", 1)]
    assert r1["smsin"] == 1.5 and r1["callin"] == 0.0  # null → 0 (C2)
    r2 = rows[("2013-11-01T00:10:00", 1)]
    assert r2["smsin"] == 0.0  # negative clamped (C4)
    report = reports["traffic"]
    assert report.invalid_dates == 1
    assert report.rejected_cells == 1
    assert report.negatives["smsin"] == 1


def test_mobility_cleansing_semantics(spark, warehouse):
    wh, reports = warehouse
    fact = spark.read.parquet(wh.path("fact_mobility_provinces"))
    rows = {r["provincia"]: r for r in fact.collect()}
    # fixups applied, whitespace trimmed, unmatched + bad rows dropped
    assert set(rows) == {"Milano", "Pavia", "Aosta", "Bolzano"}
    assert rows["Milano"]["province2cell"] == 0.0  # null → 0
    # asymmetry preserved: mobility negatives are NOT clamped
    assert rows["Bolzano"]["cell2province"] == -2.0
    assert reports["mobility"].loaded_rows == fact.count() == 4


def test_idempotent_rerun(spark, warehouse, data_dir):
    wh, _ = warehouse
    n_before = spark.read.parquet(wh.path("fact_traffic_milan")).count()
    r2 = load_traffic(wh, str(data_dir))
    r3 = load_mobility(wh, str(data_dir))
    assert r2.skipped and r3.skipped  # S8: loaded table ⇒ no-op
    assert spark.read.parquet(wh.path("fact_traffic_milan")).count() == n_before


def test_partitioned_layout_and_views(spark, warehouse):
    wh, _ = warehouse
    import os

    parts = [p for p in os.listdir(wh.path("fact_traffic_milan")) if p.startswith("load_date=")]
    assert parts == ["load_date=2013-11-01"]
    wh.register_views()
    v = spark.sql("SELECT * FROM v_hourly_traffic ORDER BY hour, cell_id").collect()
    assert len(v) == 2  # (00h, cell 1) and (01h, cell 2)
    by_key = {(r["hour"].isoformat(), r["cell_id"]): r for r in v}
    assert by_key[("2013-11-01T00:00:00", 1)]["total_activity"] == pytest.approx(17.5)


def test_flagship_query_on_warehouse(spark, warehouse):
    wh, _ = warehouse
    top = run_test_query(wh, limit=10).collect()
    assert top and top[0]["avg_load"] >= top[-1]["avg_load"]


def test_incremental_load_exactly_once_per_file(spark, tmp_path):
    from milan_telecom_etl__spark.pipeline import Warehouse, load_traffic_incremental

    d = tmp_path / "feed"
    d.mkdir()
    (d / "sms-call-internet-mi-2013-11-01.csv").write_text(
        "datetime,CellID,countrycode,smsin,smsout,callin,callout,internet\n"
        "2013-11-01 00:00:00,1,39,1.0,1.0,1.0,1.0,1.0\n"
    )
    wh = Warehouse(spark, str(tmp_path / "wh_inc"))
    r1 = load_traffic_incremental(wh, str(d))
    assert r1.loaded_rows == 1 and not r1.skipped
    # rerun with no new files → no-op
    r2 = load_traffic_incremental(wh, str(d))
    assert r2.skipped
    # day 2 arrives → only day 2 ingested; day 1 not duplicated
    (d / "sms-call-internet-mi-2013-11-02.csv").write_text(
        "datetime,CellID,countrycode,smsin,smsout,callin,callout,internet\n"
        "2013-11-02 00:00:00,2,39,2.0,2.0,2.0,2.0,2.0\n"
        "2013-11-02 00:10:00,3,39,3.0,3.0,3.0,3.0,3.0\n"
    )
    r3 = load_traffic_incremental(wh, str(d))
    assert r3.loaded_rows == 2
    fact = spark.read.parquet(wh.path("fact_traffic_milan"))
    assert fact.count() == 3
    import os as _os

    parts = sorted(
        p for p in _os.listdir(wh.path("fact_traffic_milan")) if p.startswith("load_date=")
    )
    assert parts == ["load_date=2013-11-01", "load_date=2013-11-02"]


def test_partition_pruning_on_time_filter(spark, warehouse):
    from pyspark.sql import functions as F

    wh, _ = warehouse
    fact = spark.read.parquet(wh.path("fact_traffic_milan"))
    pruned = fact.filter(F.col("load_date") == "2013-11-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the date predicate lands in PartitionFilters → pruned scan, the
    # Spark substitute for the reference's idx_traffic_time
    assert "PartitionFilters" in plan and "load_date" in plan.split("PartitionFilters")[1][:200]


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from milan_telecom_etl__spark.pipeline import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) == 40
    before = spark.read.parquet(path).agg(F.sum("v")).collect()[0][0]
    n = compact_parquet(spark, path, target_bytes=1 << 30)
    files = glob.glob(path + "/*.parquet")
    assert len(files) == n == 1
    after_df = spark.read.parquet(path)
    assert after_df.count() == 10000
    assert after_df.agg(F.sum("v")).collect()[0][0] == before


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    from milan_telecom_etl__spark.pipeline import upsert_parquet

    path = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k: long, name: string, v: long"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b2", 99), (4, "d", 40)], "k: long, name: string, v: long"
    )
    upsert_parquet(spark, path, updates, ["k"])
    got = {r["k"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 99), 3: ("c", 30), 4: ("d", 40)}


def test_apply_cdc_with_deletes_and_seq_collapse(spark, tmp_path):
    from milan_telecom_etl__spark.pipeline import apply_cdc_parquet

    path = str(tmp_path / "cdc_target")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k: long, name: string, v: long"
    ).write.parquet(path)
    changes = spark.createDataFrame(
        [
            # k=2: U then D -> net delete; k=4: I then U -> net upsert v=41
            (2, "b2", 99, "U", 1),
            (2, None, None, "D", 2),
            (4, "d", 40, "I", 1),
            (4, "d", 41, "U", 2),
            # k=3: plain update, single change
            (3, "c3", 33, "U", 1),
        ],
        "k: long, name: string, v: long, op: string, seq: long",
    )
    apply_cdc_parquet(spark, path, changes, ["k"], seq_col="seq")
    got = {r["k"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 3: ("c3", 33), 4: ("d", 41)}


def test_versioned_snapshots_time_travel_and_atomic_pointer(spark, tmp_path):
    from milan_telecom_etl__spark.pipeline import read_versioned, write_versioned

    t = str(tmp_path / "vt")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(8).withColumnRenamed("id", "k")
    v1 = write_versioned(df1, t)
    v2 = write_versioned(df2, t)
    assert (v1, v2) == (1, 2)
    # CURRENT resolves to v2; time travel still reads v1 (immutable dir)
    assert read_versioned(spark, t).count() == 8
    assert read_versioned(spark, t, version=1).count() == 5
    # a reader that resolved v1 before the flip keeps a full snapshot
    old = read_versioned(spark, t, version=1)
    v3 = write_versioned(spark.range(2).withColumnRenamed("id", "k"), t)
    assert old.count() == 5 and v3 == 3
    # retention: keep_versions=3 → v1 vacuumed on the NEXT write
    write_versioned(spark.range(1).withColumnRenamed("id", "k"), t)
    import os
    assert not os.path.isdir(f"{t}/v1") and os.path.isdir(f"{t}/v3")


def test_loaded_rows_counts_double_failure_once(spark, tmp_path):
    """ADVICE r1: a row failing BOTH quality checks (unparseable
    datetime AND out-of-range CellID) must reduce loaded_rows by one,
    not two — loaded_rows equals the rows actually written."""
    from milan_telecom_etl__spark.pipeline import Warehouse, load_traffic

    d = tmp_path / "data"
    d.mkdir()
    (d / "sms-call-internet-mi-2013-11-01.csv").write_text(
        "datetime,CellID,countrycode,smsin,smsout,callin,callout,internet\n"
        "2013-11-01 00:00:00,1,39,1.0,1.0,1.0,1.0,1.0\n"   # clean
        "bad,2,39,1.0,1.0,1.0,1.0,1.0\n"                    # bad date only
        "2013-11-01 00:10:00,99999,39,1,1,1,1,1\n"          # bad cell only
        "bad,88888,39,1,1,1,1,1\n"                          # fails BOTH
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rep = load_traffic(wh, str(d))
    written = spark.read.parquet(wh.path("fact_traffic_milan")).count()
    assert written == 1
    assert rep.loaded_rows == written  # 4 raw - 3 rejected, NOT 4 - (2+2)
    assert rep.invalid_dates == 2 and rep.rejected_cells == 2  # diagnostics overlap


def test_schema_diff_between_versions(spark, tmp_path):
    from milan_telecom_etl__spark.pipeline import schema_diff, write_versioned

    d = str(tmp_path / "tbl")
    v1 = write_versioned(
        spark.createDataFrame([(1, "a", 1.0)], "k long, name string, v double"), d
    )
    v2 = write_versioned(
        spark.createDataFrame([(1, "a", 1, True)], "k long, name string, v long, ok boolean"),
        d,
    )
    diff = schema_diff(spark, d, v1, v2)
    by_col = {e["column"]: e for e in diff}
    assert by_col["ok"]["change"] == "added"
    assert by_col["v"] == {"column": "v", "change": "retyped", "from": "double", "to": "bigint"}
    assert len(diff) == 2
    assert schema_diff(spark, d, v1, v1) == []


def test_drop_existing_rebuilds_schema(spark, data_dir, tmp_path):
    """run_all(drop_existing=True) is the reference's destructive
    create_schema(drop_existing=True) rebuild: loaders re-run instead
    of S8-skipping, and stale tables vanish."""
    import os

    wh_dir = str(tmp_path / "wh")
    kw = dict(
        grid_file=str(data_dir / "grid.geojson"),
        provinces_file=str(data_dir / "provinces.geojson"),
    )
    r1 = run_all(spark, wh_dir, str(data_dir), **kw)
    assert not r1["traffic"].skipped
    # plain rerun idempotence-skips; a stale extra table survives it
    os.makedirs(os.path.join(wh_dir, "stale_table"))
    r2 = run_all(spark, wh_dir, str(data_dir), **kw)
    assert r2["traffic"].skipped
    assert os.path.isdir(os.path.join(wh_dir, "stale_table"))
    # destructive rebuild: loaders run again, stale table is gone
    r3 = run_all(spark, wh_dir, str(data_dir), drop_existing=True, **kw)
    assert not r3["traffic"].skipped
    assert not os.path.isdir(os.path.join(wh_dir, "stale_table"))
    assert spark.read.parquet(
        os.path.join(wh_dir, "fact_traffic_milan")
    ).count() > 0


def test_declared_schemas_match_written_tables(spark, warehouse):
    """`Warehouse.read` passes the schemas.py StructType; it must agree
    with what the loads write, or reads would null out or fail."""
    from milan_telecom_etl__spark.pipeline import TABLES

    wh, _ = warehouse

    def shape(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    for t in TABLES:
        written = spark.read.parquet(wh.path(t)).schema
        assert shape(wh.read(t).schema) == shape(written), t


def test_hourly_view_shows_incremental_day(spark, tmp_path):
    """The views are registered again after an incremental append, so
    v_hourly_traffic sees the new day's files."""
    from milan_telecom_etl__spark.pipeline import load_traffic_incremental

    header = "datetime,CellID,countrycode,smsin,smsout,callin,callout,internet\n"
    d = tmp_path / "feed"
    d.mkdir()
    (d / "sms-call-internet-mi-2013-11-01.csv").write_text(
        header + "2013-11-01 00:00:00,1,39,1.0,1.0,1.0,1.0,1.0\n"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    load_traffic_incremental(wh, str(d))
    (d / "sms-call-internet-mi-2013-11-02.csv").write_text(
        header + "2013-11-02 05:00:00,2,39,2.0,2.0,2.0,2.0,2.0\n"
    )
    load_traffic_incremental(wh, str(d))
    hours = {
        (r["hour"].isoformat(), r["cell_id"]): r["total_activity"]
        for r in spark.table("v_hourly_traffic").collect()
    }
    assert hours == {("2013-11-01T00:00:00", 1): 5.0, ("2013-11-02T05:00:00", 2): 10.0}


def _dims(data_dir, provinces="provinces.geojson"):
    return dict(
        grid_file=str(data_dir / "grid.geojson"),
        provinces_file=str(data_dir / provinces),
    )


def test_run_all_jobs_carry_caller_group_and_tag(spark, data_dir, tmp_path):
    """The load chains run in pool threads; every job they start keeps
    the job group and job tag of the thread that called run_all."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tracker = jsc.statusTracker()
    group, tag = "run_all_dag_group", "run_all_dag_tag"
    jsc.listenerBus().waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "load DAG test")
    sc.addJobTag(tag)
    try:
        run_all(spark, str(tmp_path / "wh"), str(data_dir), **_dims(data_dir))
    finally:
        sc.removeJobTag(tag)
        sc._jsc.clearJobGroup()
    jsc.listenerBus().waitUntilEmpty()
    in_group = set(tracker.getJobIdsForGroup(group))
    assert len(in_group) >= 5  # a write per table plus the broadcast dim
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
    assert set(tracker.getJobIdsForTag(tag)) == in_group


def test_run_all_raises_after_every_chain_finished(spark, data_dir, tmp_path):
    """A failing chain (missing provinces file) does not stop the
    others: run_all raises its error once they are done, and a rerun
    without drop_existing completes the warehouse through the S8 skips."""
    import os

    from pyspark.errors import AnalysisException

    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_all(spark, wh_dir, str(data_dir), **_dims(data_dir, "missing.geojson"))
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert wh.exists_nonempty("dim_grid_milan")
    assert wh.exists_nonempty("fact_traffic_milan")
    assert not os.path.isdir(wh.path("dim_provinces_it"))
    assert not os.path.isdir(wh.path("fact_mobility_provinces"))

    reports = run_all(spark, wh_dir, str(data_dir), **_dims(data_dir))
    assert reports["traffic"].skipped
    assert not reports["mobility"].skipped and reports["mobility"].loaded_rows == 4
    assert spark.table("dim_provinces_it").count() == 4
    assert spark.table("v_hourly_traffic").count() == 2


def test_cli_all_runs_the_load_dag(monkeypatch, tmp_path):
    """`--all` goes through run_all, not a serial restatement."""
    from types import SimpleNamespace

    from milan_telecom_etl__spark import __main__ as cli
    from milan_telecom_etl__spark import pipeline, session
    from milan_telecom_etl__spark.pipeline import LoadReport

    calls = []
    stub_spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        stop=lambda: None,
    )

    def fake_run_all(*args):
        calls.append(args)
        return {"traffic": LoadReport("fact_traffic_milan"),
                "mobility": LoadReport("fact_mobility_provinces")}

    def serial_stage(*args):
        raise AssertionError("serial stage called")

    monkeypatch.setattr(session, "get_spark", lambda app_name: stub_spark)
    monkeypatch.setattr(pipeline, "run_all", fake_run_all)
    monkeypatch.setattr(pipeline, "run_test_query",
                        lambda wh, limit: SimpleNamespace(collect=lambda: []))
    for name in ("load_geometries", "load_traffic", "load_mobility"):
        monkeypatch.setattr(pipeline, name, serial_stage)
    wh_dir, data = str(tmp_path / "wh"), str(tmp_path)
    assert cli.main(["--all", "--warehouse", wh_dir, "--data-dir", data, "--grid", "g"]) == 0
    assert calls == [(stub_spark, wh_dir, data, "g", None, None)]
