"""Verbatim re-expressions of the reference's two DQA pipelines over an
OpenMRS-shaped source fleet (FIXTURES.md Family B).

These compose the generic check primitives into the exact report shapes
the reference emits:

- :func:`loading_status_check` ⇔ ``data_consistency_checks.py`` (DC):
  per-facility record counts + max event dates for obs/encounter/orders,
  pivoted wide, cross-table divergence scored as rounded stddev of date
  ordinals (DC:43-144).
- :func:`etl_reconciliation_check` ⇔ ``pre_and_post_etl_checks.py``
  (PP): per-site per-table counts from N source schemas vs the
  consolidated warehouse, full-outer join, signed variance (PP:45-243).

Reference quirks preserved deliberately (each pinned in
tests/test_openmrs_pipelines.py):
- facility_id is the RAW ``global_property.property_value`` string in
  DC (DC:45) but the ``*1``-coerced number in PP (PP:47, garbage → 0);
- ``voided = 0`` filters everywhere EXCEPT ``patient_state`` (its
  filter is commented out at PP:106);
- the destination ``patient_state`` branch is hardcoded to
  ``site_id = 20`` (PP:219);
- ``QUARTER(NOW())-1`` yields 0 in Q1 (DC:50);
- future-dated rows are excluded by ``ts < NOW()`` (DC:52).

Both checks run once over the whole fleet: the fan-out hands them every
source's tables stacked and tagged with ``SOURCE_COL``, and each check
groups by source. The reference's uncorrelated scalar-subquery "config
join" (DC:45-46) becomes a per-source config frame joined on the source
tag; the per-table counts come from one ``groupBy(source, table_name)``
over the union of the counted tables, left-joined from the config ×
table-name grid so a table with no qualifying rows still reports
``record_count`` 0 (and a NULL ``max_date``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.functions.scalars import mysql_num
from data_quality_checks_in_relational_database_spark.operators.checks import consistency_score, reconcile
from data_quality_checks_in_relational_database_spark.operators.fanout import (
    SOURCE_COL,
    FanoutReport,
    run_fanout,
)
from data_quality_checks_in_relational_database_spark.sources.catalog import FleetCatalog

#: tables each DC source must have (DC:43-77)
DC_TABLES = ["global_property", "location", "obs", "encounter", "orders"]
#: (table, event timestamp column) of the DC freshness branches (DC:43-77)
DC_EVENTS = [("obs", "obs_datetime"), ("encounter", "encounter_datetime"), ("orders", "start_date")]
#: tables each PP source must have (PP:45-110)
PP_TABLES = DC_TABLES + ["person", "patient", "patient_state"]
#: (table, voided-filtered) per PP:50-107 — patient_state unfiltered
PP_COUNTED = [
    ("obs", True),
    ("encounter", True),
    ("orders", True),
    ("person", True),
    ("patient", True),
    ("patient_state", False),
]


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def facility_config(global_property: DataFrame, location: DataFrame) -> DataFrame:
    """Per-source config frame: (SOURCE_COL, facility_id_str, site_id,
    facility_name), from source-tagged (stacked) tables.

    Re-expresses the reference's uncorrelated scalar subqueries
    (DC:45-46 / PP:47-48): property_value of
    'current_health_center_id', its ``*1`` numeric coercion, and the
    DISTINCT location name it points at. A source without that property
    has no config row, so it reports nothing.
    """
    prop = (
        global_property.filter(F.col("property") == "current_health_center_id")
        .groupBy(SOURCE_COL)
        .agg(
            # a well-formed OpenMRS config has exactly one row; the
            # reference's scalar subquery (DC:45) would ERROR on more.
            # We instead pick deterministically, as an ascending sort
            # would: a NULL value first, else the smallest.
            F.when(F.count(F.lit(1)) > F.count("property_value"), F.lit(None))
            .otherwise(F.min("property_value"))
            .alias("facility_id_str")
        )
        .withColumn("site_id", mysql_num("facility_id_str"))
    )
    named = prop.join(
        F.broadcast(
            location.select(
                SOURCE_COL,
                F.col("location_id").cast("long").alias("site_id"),
                F.col("name").alias("facility_name"),
            ).distinct()
        ),
        [SOURCE_COL, "site_id"],
        "left",
    )
    return named.select(SOURCE_COL, "facility_id_str", "site_id", "facility_name")


def _counts_by_source(cfg: DataFrame, rows: DataFrame, tables: list[str], *aggs: Column) -> DataFrame:
    """``cfg`` × ``tables`` grid left-joined with ``rows``' per
    (source, table_name) ``record_count`` and ``aggs``: a table with no
    rows keeps its grid row, with ``record_count`` 0 and NULL ``aggs``
    (what a global aggregate over an empty table gives)."""
    counts = rows.groupBy(SOURCE_COL, "table_name").agg(F.count(F.lit(1)).alias("record_count"), *aggs)
    grid = cfg.withColumn("table_name", F.explode(F.array(*[F.lit(t) for t in tables])))
    # the counts are bounded (sources × tables rows) but their size
    # estimate grows with the union's inputs: without the hint, a large
    # fleet plans a sort-merge join and shuffles the grid side too
    return grid.join(F.broadcast(counts), [SOURCE_COL, "table_name"], "left").withColumn(
        "record_count", F.coalesce("record_count", F.lit(0))
    )


def loading_status_check(catalog: FleetCatalog, prefix: str = "openmrs_") -> FanoutReport:
    """DC per-source phase: the 3-branch freshness/volume union
    (DC:43-77) over the fleet, with missing-table skip: count and
    max event date of rows dated before now, per source and table."""

    def check(t: dict[str, DataFrame]) -> DataFrame:
        cfg = facility_config(t["global_property"], t["location"])
        events = _union(
            [
                t[name].select(SOURCE_COL, F.lit(name).alias("table_name"), F.col(ts).alias("ts"))
                for name, ts in DC_EVENTS
            ]
        ).filter(F.col("ts") < F.current_timestamp())
        audit = _counts_by_source(
            cfg, events, [name for name, _ in DC_EVENTS], F.max(F.to_date("ts")).alias("max_date")
        )
        return audit.select(
            F.col("facility_id_str").alias("facility_id"),
            "facility_name",
            "table_name",
            "record_count",
            "max_date",
            (F.quarter(F.current_timestamp()) - 1).alias("reporting_quarter"),
        )

    return run_fanout(catalog, check, required_tables=DC_TABLES, prefix=prefix)


def schema_consistency_report(loading_status: DataFrame) -> DataFrame:
    """DC driver phase (DC:124-149): pivot per-table max dates wide per
    facility, score with rounded sample stddev of date ordinals, stamp
    date_created. Output columns exactly DC:144 + DC:149."""
    long_df = loading_status.select("facility_id", "facility_name", "table_name", "max_date")
    wide = consistency_score(
        long_df,
        keys=["facility_id", "facility_name"],
        pivot_col="table_name",
        date_col="max_date",
        pivot_values=["encounter", "obs", "orders"],
    )
    return wide.select(
        "facility_id",
        "facility_name",
        "encounter_max_date",
        "obs_max_date",
        "orders_max_date",
        "std_dev",
    ).withColumn("date_created", F.current_date())


def etl_reconciliation_check(
    catalog: FleetCatalog,
    warehouse: dict[str, DataFrame],
    prefix: str = "openmrs_",
) -> tuple[DataFrame, FanoutReport]:
    """PP end-to-end: source fleet counts vs consolidated warehouse
    counts, full-outer reconciliation with signed variance (PP:45-243).

    Returns (report, fanout_audit). Report columns exactly PP:242:
    site_id, site_name, table_name, record_count_source,
    record_count_ohdl, variance, date_created.
    """

    def check(t: dict[str, DataFrame]) -> DataFrame:
        cfg = facility_config(t["global_property"], t["location"])
        rows = _union(
            [
                (t[name].filter(F.col("voided") == 0) if voided else t[name]).select(
                    SOURCE_COL, F.lit(name).alias("table_name")
                )
                for name, voided in PP_COUNTED
            ]
        )
        counts = _counts_by_source(cfg, rows, [name for name, _ in PP_COUNTED])
        return counts.select(
            "site_id",
            F.col("facility_name").alias("site_name"),
            "table_name",
            "record_count",
        )

    fan = run_fanout(catalog, check, required_tables=PP_TABLES, prefix=prefix)

    # Destination: consolidated warehouse keyed by site_id (PP:159-221),
    # one grouped count over the union of the counted tables.
    dest_rows = []
    for name, voided in PP_COUNTED:
        df = warehouse[name]
        if voided:
            df = df.filter(F.col("voided") == 0)
        if name == "patient_state":
            df = df.filter(F.col("site_id") == 20)  # PP:219 quirk, verbatim
        dest_rows.append(
            df.select(F.col("site_id").cast("long").alias("site_id"), F.lit(name).alias("table_name"))
        )
    dest = _union(dest_rows).groupBy("site_id", "table_name").agg(F.count(F.lit(1)).alias("record_count"))

    report = reconcile(
        fan.report,
        dest,
        keys=["site_id", "table_name"],
        suffixes=("_source", "_ohdl"),
        carry_source_cols=["site_name"],
        stamp_date=True,
    ).select(
        "site_id",
        "site_name",
        "table_name",
        "record_count_source",
        "record_count_ohdl",
        "variance",
        "date_created",
    )
    return report, fan
