"""End-to-end parity tests for the OpenMRS-shaped pipelines against
hand-computed expectations on Family B fixtures (FIXTURES.md), covering
every semantic edge the reference exhibits: *1 coercion of garbage,
voided filters (and the deliberate lack of one on patient_state),
future-date exclusion, the site_id=20 destination quirk, missing-table
skip, stddev=0 and fractional-stddev facilities, and outer-join NULL
variance."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators.fanout import SOURCE_COL
from data_quality_checks_in_relational_database_spark.plans.openmrs_pipelines import (
    etl_reconciliation_check,
    loading_status_check,
    schema_consistency_report,
)
from data_quality_checks_in_relational_database_spark.sources.catalog import ParquetDirCatalog

TS = datetime.datetime


def _write(df, path):
    df.write.mode("overwrite").parquet(path)


@pytest.fixture(scope="module")
def fleet(spark, tmp_path_factory):
    """3 facility schemas + consolidated warehouse as parquet dirs.

    fac1: property_value '1', distinct max dates (stddev≈5), one
          future-dated obs row that must be excluded, voided rows.
    fac2: property_value 'xyz' (garbage → site_id 0), equal max dates
          (stddev 0).
    fac3: missing `orders` table → must be skipped.
    plus a non-openmrs db that the prefix filter must drop.
    """
    root = tmp_path_factory.mktemp("openmrs")

    def gp(val):
        return spark.createDataFrame(
            [("current_health_center_id", val), ("other", "9")],
            ["property", "property_value"],
        )

    def loc(lid, name):
        return spark.createDataFrame([(lid, name)], ["location_id", "name"])

    def evts(dates, voided=None):
        voided = voided or [0] * len(dates)
        return spark.createDataFrame(
            [(i, TS.fromisoformat(d), v) for i, (d, v) in enumerate(zip(dates, voided))],
            ["id", "ts", "voided"],
        )

    def persons(n, n_voided=0):
        return spark.createDataFrame(
            [(i, 1 if i < n_voided else 0) for i in range(n)], ["id", "voided"]
        )

    dirs = {}
    for fac, (pv, lid, lname) in {
        "openmrs_fac1": ("1", 1, "Alpha Clinic"),
        "openmrs_fac2": ("xyz", 0, "Broken Config"),
        "openmrs_fac3": ("3", 3, "Gamma Clinic"),
    }.items():
        d = root / fac
        d.mkdir()
        _write(gp(pv), str(d / "global_property.parquet"))
        _write(loc(lid, lname), str(d / "location.parquet"))
        dirs[fac] = str(d)

    f1 = root / "openmrs_fac1"
    # obs: max 2024-01-10 (2030 future row excluded); 1 voided row
    _write(
        evts(["2024-01-05", "2024-01-10", "2030-01-01", "2024-01-02"], [0, 0, 0, 1]).selectExpr(
            "id as obs_id", "ts as obs_datetime", "voided"
        ),
        str(f1 / "obs.parquet"),
    )
    _write(
        evts(["2024-01-12", "2024-01-01"]).selectExpr(
            "id as encounter_id", "ts as encounter_datetime", "voided"
        ),
        str(f1 / "encounter.parquet"),
    )
    _write(
        evts(["2024-01-20"]).selectExpr("id as order_id", "ts as start_date", "voided"),
        str(f1 / "orders.parquet"),
    )
    _write(persons(5, n_voided=2).selectExpr("id as person_id", "voided"), str(f1 / "person.parquet"))
    _write(persons(4).selectExpr("id as patient_id", "voided"), str(f1 / "patient.parquet"))
    _write(
        persons(3, n_voided=1).selectExpr("id as patient_state_id", "voided"),
        str(f1 / "patient_state.parquet"),
    )

    f2 = root / "openmrs_fac2"
    for tbl, col in [("obs", "obs_datetime"), ("encounter", "encounter_datetime")]:
        _write(
            evts(["2024-02-01", "2024-01-15"]).selectExpr("id", f"ts as {col}", "voided"),
            str(f2 / f"{tbl}.parquet"),
        )
    _write(
        evts(["2024-02-01"]).selectExpr("id as order_id", "ts as start_date", "voided"),
        str(f2 / "orders.parquet"),
    )
    for tbl in ["person", "patient", "patient_state"]:
        _write(persons(2).selectExpr(f"id as {tbl}_id", "voided"), str(f2 / f"{tbl}.parquet"))

    f3 = root / "openmrs_fac3"  # no orders.parquet → skip path
    _write(
        evts(["2024-03-01"]).selectExpr("id as obs_id", "ts as obs_datetime", "voided"),
        str(f3 / "obs.parquet"),
    )
    _write(
        evts(["2024-03-02"]).selectExpr("id as encounter_id", "ts as encounter_datetime", "voided"),
        str(f3 / "encounter.parquet"),
    )

    other = root / "misc_db"
    other.mkdir()
    dirs["misc_db"] = str(other)

    catalog = ParquetDirCatalog(spark, dirs)

    # warehouse: obs site1 off by one (variance 1), encounter equal
    # (variance 0), person missing for site1 (NULL), extra site 99
    # (dest-only NULL), patient_state rows at sites 1 AND 20 but only
    # site 20 may surface (PP:219)
    wh = {
        "obs": spark.createDataFrame(
            [(1, 0)] * 2 + [(99, 0)] * 3, ["site_id", "voided"]
        ),
        "encounter": spark.createDataFrame([(1, 0)] * 2 + [(1, 1)], ["site_id", "voided"]),
        "orders": spark.createDataFrame([(1, 0)], ["site_id", "voided"]),
        "person": spark.createDataFrame([(99, 0)], ["site_id", "voided"]),
        "patient": spark.createDataFrame([(1, 0)] * 4, ["site_id", "voided"]),
        "patient_state": spark.createDataFrame(
            [(1, 0)] * 5 + [(20, 0)] * 7, ["site_id", "voided"]
        ),
    }
    return catalog, wh


def test_loading_status_fanout(spark, fleet):
    catalog, _ = fleet
    fan = loading_status_check(catalog)
    assert fan.attempted == 3  # prefix filter dropped misc_db
    assert fan.succeeded == 2
    assert fan.skipped == [("openmrs_fac3", "orders")]
    rows = {
        (r["facility_id"], r["table_name"]): r for r in fan.report.collect()
    }
    assert len(rows) == 6
    # future obs excluded; count includes voided (DC has no voided filter)
    r = rows[("1", "obs")]
    assert r["record_count"] == 3
    assert r["max_date"] == datetime.date(2024, 1, 10)
    assert r["facility_name"] == "Alpha Clinic"
    # garbage config: facility_id stays the raw string; name resolves
    # via the coerced 0 → location_id 0
    assert rows[("xyz", "obs")]["facility_name"] == "Broken Config"


def test_schema_consistency_report(spark, fleet):
    catalog, _ = fleet
    fan = loading_status_check(catalog)
    report = {r["facility_id"]: r for r in schema_consistency_report(fan.report).collect()}
    # fac1 ordinals {12th, 10th, 20th}: mean diffs → stddev 5.2915 → 5.0
    assert report["1"]["std_dev"] == 5.0
    assert report["1"]["encounter_max_date"] == datetime.date(2024, 1, 12)
    assert report["1"]["orders_max_date"] == datetime.date(2024, 1, 20)
    # fac2: all three dates equal → stddev 0
    assert report["xyz"]["std_dev"] == 0.0
    assert report["1"]["date_created"] == datetime.date.today()


def test_etl_reconciliation(spark, fleet):
    catalog, wh = fleet
    report, fan = etl_reconciliation_check(catalog, wh)
    assert fan.skipped == [("openmrs_fac3", "person")] or fan.skipped == [
        ("openmrs_fac3", "orders")
    ]
    rows = {(r["site_id"], r["table_name"]): r for r in report.collect()}
    # voided excluded on source obs: fac1 has 3 non-future... obs counts
    # voided=0 rows: ids 0,1,2 are voided=0 (incl. future row — PP has
    # no date bound), id 3 voided → count 3
    assert rows[(1, "obs")]["record_count_source"] == 3
    assert rows[(1, "obs")]["record_count_ohdl"] == 2
    assert rows[(1, "obs")]["variance"] == 1
    # encounter: source 2, dest 2 (one voided dest row excluded) → 0
    assert rows[(1, "encounter")]["variance"] == 0
    # person: source 3 (2 of 5 voided), no dest rows → NULL variance
    assert rows[(1, "person")]["record_count_source"] == 3
    assert rows[(1, "person")]["variance"] is None
    # patient_state: NO voided filter on source (3 rows incl. voided);
    # dest only surfaces site 20 (PP:219) → site1 dest NULL
    assert rows[(1, "patient_state")]["record_count_source"] == 3
    assert rows[(1, "patient_state")]["record_count_ohdl"] is None
    assert rows[(20, "patient_state")]["record_count_ohdl"] == 7
    assert rows[(20, "patient_state")]["record_count_source"] is None
    # garbage *1 → site 0 present from fac2, dest-only site 99 NULLs
    assert rows[(0, "obs")]["record_count_source"] == 2
    assert rows[(99, "obs")]["record_count_source"] is None
    assert rows[(99, "obs")]["record_count_ohdl"] == 3
    # carried site_name survives the outer join on source-present rows
    assert rows[(1, "obs")]["site_name"] == "Alpha Clinic"

def test_facility_config_deterministic_on_multirow_config(spark):
    """A malformed global_property with TWO current_health_center_id
    rows must resolve deterministically (smallest property_value), not
    partition-order-dependently — the reference's scalar subquery
    (DC:45) would error outright; we pin the lenient-but-stable choice."""
    from data_quality_checks_in_relational_database_spark.plans.openmrs_pipelines import facility_config

    gp = spark.createDataFrame(
        [("current_health_center_id", "7"), ("current_health_center_id", "3")],
        ["property", "property_value"],
    ).withColumn(SOURCE_COL, F.lit("openmrs_x"))
    loc = spark.createDataFrame(
        [(3, "Gamma Clinic"), (7, "Delta Clinic")], ["location_id", "name"]
    ).withColumn(SOURCE_COL, F.lit("openmrs_x"))
    for _ in range(3):  # repeated runs — any ordering instability flakes here
        row = facility_config(gp.repartition(5), loc).collect()
        assert len(row) == 1
        assert row[0]["facility_id_str"] == "3"
        assert row[0]["site_id"] == 3
        assert row[0]["facility_name"] == "Gamma Clinic"


# --- the fixture's fleet plus one more facility ---------------------------


def _facility(spark, gp_rows, loc_rows, obs_dates, voided_type="bigint"):
    """All eight tables of one facility. ``obs_dates`` carry voided
    flags; encounter/orders have one row each, person 3 rows (1 voided),
    patient 2, patient_state 2 (1 voided)."""

    def evts(id_col, ts_col, rows):
        return spark.createDataFrame(
            [(i, TS.fromisoformat(d), v) for i, (d, v) in enumerate(rows)],
            f"{id_col} bigint, {ts_col} timestamp, voided {voided_type}",
        )

    def persons(id_col, voided):
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(voided)], f"{id_col} bigint, voided {voided_type}"
        )

    return {
        "global_property": spark.createDataFrame(gp_rows, "property string, property_value string"),
        "location": spark.createDataFrame(loc_rows, "location_id bigint, name string"),
        "obs": evts("obs_id", "obs_datetime", obs_dates),
        "encounter": evts("encounter_id", "encounter_datetime", [("2024-05-02", 0)]),
        "orders": evts("order_id", "start_date", [("2024-05-04", 0)]),
        "person": persons("person_id", [0, 1, 0]),
        "patient": persons("patient_id", [0, 0]),
        "patient_state": persons("patient_state_id", [0, 1]),
    }


def _with_facility(spark, catalog, root, name, tables):
    d = root / name
    d.mkdir()
    for t, df in tables.items():
        _write(df, str(d / f"{t}.parquet"))
    return ParquetDirCatalog(spark, {**catalog.sources, name: str(d)})


def _dc_rows(catalog):
    fan = loading_status_check(catalog)
    return fan, {(r["facility_id"], r["table_name"]): r for r in fan.report.collect()}


def _gp(value):
    return [("current_health_center_id", value), ("other", "9")]


def test_loading_status_future_only_table_reports_zero(spark, fleet, tmp_path):
    """A source whose obs rows are all dated after now keeps its obs row:
    record_count 0 and a NULL max_date (a global aggregate over no rows)."""
    catalog, _ = fleet
    tables = _facility(
        spark, _gp("4"), [(4, "Delta Clinic")], [("2030-01-01", 0), ("2031-06-01", 0)]
    )
    fan, rows = _dc_rows(_with_facility(spark, catalog, tmp_path, "openmrs_fac4", tables))
    assert (fan.attempted, fan.succeeded) == (4, 3)
    assert len(rows) == 9
    assert rows[("4", "obs")]["record_count"] == 0
    assert rows[("4", "obs")]["max_date"] is None
    assert rows[("4", "obs")]["facility_name"] == "Delta Clinic"
    assert rows[("4", "encounter")]["record_count"] == 1
    assert rows[("4", "encounter")]["max_date"] == datetime.date(2024, 5, 2)
    assert rows[("1", "obs")]["record_count"] == 3  # other sources unchanged
    assert rows[("1", "obs")]["max_date"] == datetime.date(2024, 1, 10)


def test_facility_config_null_value_beside_valid(spark, fleet, tmp_path):
    """A NULL current_health_center_id beside a valid one: the NULL
    sorts first and wins, its *1 coercion is site 0, and the name
    resolves through location 0."""
    catalog, _ = fleet
    gp = [("current_health_center_id", None), ("current_health_center_id", "5"), ("other", "9")]
    tables = _facility(spark, gp, [(5, "Epsilon Clinic"), (0, "Zero Ward")], [("2024-05-01", 0)])
    cat = _with_facility(spark, catalog, tmp_path, "openmrs_fac5", tables)
    _, rows = _dc_rows(cat)
    assert rows[(None, "obs")]["facility_name"] == "Zero Ward"
    assert rows[(None, "obs")]["record_count"] == 1
    assert not any(fid == "5" for fid, _ in rows)
    report, _ = etl_reconciliation_check(cat, fleet[1])
    names = {r["site_name"] for r in report.collect() if r["site_id"] == 0}
    assert names == {"Broken Config", "Zero Ward"}


def test_int32_vs_int64_voided_across_sources(spark, fleet, tmp_path):
    """``voided`` is int32 in one source and int64 in the others: the
    per-table schemas cannot merge, and both checks still count every
    source as before."""
    catalog, wh = fleet
    tables = _facility(
        spark, _gp("6"), [(6, "Zeta Clinic")], [("2024-05-01", 0), ("2024-05-03", 1)], "int"
    )
    cat = _with_facility(spark, catalog, tmp_path, "openmrs_fac6", tables)
    _, rows = _dc_rows(cat)
    assert rows[("6", "obs")]["record_count"] == 2  # DC counts voided rows
    assert rows[("6", "obs")]["max_date"] == datetime.date(2024, 5, 3)
    assert rows[("1", "obs")]["record_count"] == 3
    report, fan = etl_reconciliation_check(cat, wh)
    assert (fan.attempted, fan.succeeded) == (4, 3)
    got = {r["table_name"]: r["record_count_source"] for r in report.collect() if r["site_id"] == 6}
    assert got == {
        "obs": 1,
        "encounter": 1,
        "orders": 1,
        "person": 2,
        "patient": 2,
        "patient_state": 2,  # no voided filter (PP:106)
    }
    rows = {(r["site_id"], r["table_name"]): r for r in report.collect()}
    assert rows[(1, "obs")]["record_count_source"] == 3
    assert rows[(1, "person")]["record_count_source"] == 3


def test_catalog_inference_jobs_do_not_grow_with_sources(spark, fleet):
    """Building DC and PP over 2 and over 3 surviving sources starts the
    same number of Spark jobs: each table's schema is inferred once for
    the whole fleet, not once per source."""
    catalog, wh = fleet
    sc = spark.sparkContext

    def build_jobs(sources, group):
        cat = ParquetDirCatalog(spark, sources)
        sc.setJobGroup(group, "plan build only")
        try:
            loading_status_check(cat)
            etl_reconciliation_check(cat, wh)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    three = {**catalog.sources, "openmrs_fac1_copy": catalog.sources["openmrs_fac1"]}
    assert build_jobs(catalog.sources, "fleet-2") == build_jobs(three, "fleet-3")
