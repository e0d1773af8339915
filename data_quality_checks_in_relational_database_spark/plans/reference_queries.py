"""Reference-parity + SQL-surface queries over the driver testdata.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame; its
DuckDB oracle twin lives next to it as a module constant. The pairs are
registered in ``plans.registry``.

Cross-engine hash-parity rules used throughout (and mirrored in every
oracle):
- integer outputs are ``long`` (DuckDB COUNT is already BIGINT);
- money sums use exact integer-cents arithmetic
  (:func:`~..functions.scalars.money_sum`) — order-independent, so the
  value is bit-identical no matter how 100 TB is partitioned;
- date ordinals / stddev use pure-integer inputs so double math is
  exact and engine-independent (see ``operators.checks.consistency_score``);
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.functions.scalars import money_sum
from data_quality_checks_in_relational_database_spark.operators.checks import (
    FreshnessSpec,
    consistency_score,
    freshness_audit,
    reconcile,
    volume_audit,
)
from data_quality_checks_in_relational_database_spark.operators.fanout import SOURCE_COL, run_fanout
from data_quality_checks_in_relational_database_spark.session import load_tables
from data_quality_checks_in_relational_database_spark.sources.catalog import SlicedFleetCatalog

# ---------------------------------------------------------------------------
# Check primitive 1 — volume audit (SURVEY §2.8 #1; DC:48, PP:50)
# ---------------------------------------------------------------------------


def q_volume_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "events"))
    return volume_audit(t).orderBy("table_name")


ORACLE_VOLUME_AUDIT = """
SELECT 'customer' AS table_name, COUNT(*) AS record_count FROM customer
UNION ALL SELECT 'orders', COUNT(*) FROM orders
UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
UNION ALL SELECT 'events', COUNT(*) FROM events
"""


def q_volume_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))
    return volume_audit(t, group_by=["o_orderstatus"])


ORACLE_VOLUME_BY_STATUS = """
SELECT o_orderstatus, 'orders' AS table_name, COUNT(*) AS record_count
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Check primitive 2 — freshness audit (SURVEY §2.8 #2; DC:43-77)
# ---------------------------------------------------------------------------


def q_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "lineitem", "events"))
    specs = [
        FreshnessSpec("orders", t["orders"], "o_orderdate"),
        FreshnessSpec("lineitem", t["lineitem"], "l_shipdate"),
        FreshnessSpec("events", t["events"], "ts"),
    ]
    df = freshness_audit(specs)
    return df.withColumn("record_count", F.col("record_count").cast("long")).withColumn(
        "reporting_quarter", F.col("reporting_quarter").cast("long")
    )


ORACLE_FRESHNESS_AUDIT = """
SELECT 'orders' AS table_name, COUNT(*) AS record_count,
       MAX(CAST(o_orderdate AS DATE)) AS max_date,
       QUARTER(NOW()) - 1 AS reporting_quarter
FROM orders WHERE o_orderdate < NOW()
UNION ALL
SELECT 'lineitem', COUNT(*), MAX(CAST(l_shipdate AS DATE)), QUARTER(NOW()) - 1
FROM lineitem WHERE l_shipdate < NOW()
UNION ALL
SELECT 'events', COUNT(*), MAX(CAST(ts AS DATE)), QUARTER(NOW()) - 1
FROM events WHERE ts < NOW()
"""


# ---------------------------------------------------------------------------
# Check primitive 3 — cross-table consistency score (DC:124-144)
# ---------------------------------------------------------------------------

# Three freshness series per nation play the role of the reference's
# three per-facility tables (obs/encounter/orders): orders dates,
# lineitem ship dates, and urgent-order dates.
_CONSISTENCY_SERIES = ["lineitem", "orders", "orders_urgent"]


def q_consistency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("nation", "customer", "orders", "lineitem"))
    cust = t["customer"].select("c_custkey", "c_nationkey")
    nat = t["nation"].select(
        F.col("n_nationkey").alias("facility_id"), F.col("n_name").alias("facility_name")
    )
    ord_nat = (
        t["orders"]
        .join(cust, t["orders"].o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("facility_id"))
    )
    li_nat = t["lineitem"].join(
        ord_nat.select("o_orderkey", "facility_id", "facility_name"),
        t["lineitem"].l_orderkey == F.col("o_orderkey"),
    )
    keys = ["facility_id", "facility_name"]
    # one orders scan covers both the plain and the urgent series via
    # conditional aggregation + stack (at 100 TB, scans dominate: 2
    # scans total instead of 3). A nation with no urgent orders yields
    # a NULL stack row, which the pivot's MAX ignores — identical to
    # the filtered-branch formulation.
    ord_long = (
        ord_nat.groupBy(*keys)
        .agg(
            F.max(F.to_date("o_orderdate")).alias("om"),
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", F.to_date("o_orderdate"))
            ).alias("um"),
        )
        .select(
            *keys,
            F.expr("stack(2, 'orders', om, 'orders_urgent', um) AS (table_name, max_date)"),
        )
    )
    long_df = ord_long.unionByName(
        li_nat.groupBy(*keys)
        .agg(F.max(F.to_date("l_shipdate")).alias("max_date"))
        .select(*keys, F.lit("lineitem").alias("table_name"), "max_date")
    )
    out = consistency_score(long_df, keys, "table_name", "max_date", _CONSISTENCY_SERIES)
    return out.withColumn("facility_id", F.col("facility_id").cast("long"))


ORACLE_CONSISTENCY_SCORE = """
WITH long_form AS (
    SELECT c.c_nationkey AS facility_id, n.n_name AS facility_name,
           'orders' AS table_name, MAX(CAST(o.o_orderdate AS DATE)) AS max_date
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    UNION ALL
    SELECT c.c_nationkey, n.n_name, 'lineitem', MAX(CAST(l.l_shipdate AS DATE))
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    UNION ALL
    SELECT c.c_nationkey, n.n_name, 'orders_urgent', MAX(CAST(o.o_orderdate AS DATE))
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1, 2
),
wide AS (
    SELECT facility_id, facility_name,
           MAX(CASE WHEN table_name = 'lineitem' THEN max_date END) AS lineitem_max_date,
           MAX(CASE WHEN table_name = 'orders' THEN max_date END) AS orders_max_date,
           MAX(CASE WHEN table_name = 'orders_urgent' THEN max_date END) AS orders_urgent_max_date
    FROM long_form GROUP BY 1, 2
),
ordinals AS (
    SELECT *,
           CAST(DATEDIFF('day', DATE '1970-01-01', lineitem_max_date) + 719163 AS DOUBLE) AS d1,
           CAST(DATEDIFF('day', DATE '1970-01-01', orders_max_date) + 719163 AS DOUBLE) AS d2,
           CAST(DATEDIFF('day', DATE '1970-01-01', orders_urgent_max_date) + 719163 AS DOUBLE) AS d3
    FROM wide
)
SELECT CAST(facility_id AS BIGINT) AS facility_id, facility_name,
       lineitem_max_date, orders_max_date, orders_urgent_max_date,
       -- NULL-skipping sample stddev (ddof = n_nonnull - 1), mirroring
       -- pandas std(axis=1) / functions.scalars.rowwise_stddev_samp: a
       -- facility missing one series still gets a 2-value stddev
       ROUND(CASE WHEN len(xs) >= 2 THEN SQRT(
           list_sum(list_transform(xs, v -> POW(v - list_sum(xs) / len(xs), 2)))
           / (len(xs) - 1)) END, 0) AS std_dev
FROM (SELECT *, list_filter([d1, d2, d3], v -> v IS NOT NULL) AS xs FROM ordinals)
"""


# ---------------------------------------------------------------------------
# Check primitive 4 — cross-system reconciliation (PP:229-243)
# ---------------------------------------------------------------------------


def q_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source = per-status order counts; destination = per-status count of
    distinct orders that have at least one lineitem (the 'consolidated'
    system). A zero variance means ETL moved every order."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    source = t["orders"].groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("record_count"))
    dest = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count_distinct("l_orderkey").alias("record_count"))
    )
    return reconcile(source, dest, keys=["o_orderstatus"])


ORACLE_RECONCILIATION = """
WITH source AS (
    SELECT o_orderstatus, COUNT(*) AS record_count FROM orders GROUP BY 1
),
dest AS (
    SELECT o.o_orderstatus, COUNT(DISTINCT l.l_orderkey) AS record_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
)
SELECT COALESCE(s.o_orderstatus, d.o_orderstatus) AS o_orderstatus,
       s.record_count AS record_count_source,
       d.record_count AS record_count_ohdl,
       s.record_count - d.record_count AS variance
FROM source s FULL OUTER JOIN dest d ON s.o_orderstatus = d.o_orderstatus
"""


# ---------------------------------------------------------------------------
# Check primitive 5 — fleet fan-out with missing-table tolerance (DC:85-116)
# ---------------------------------------------------------------------------

_FANOUT_NATIONS = [0, 1, 2, 3, 4]
_FANOUT_MISSING = {("nation_3", "orders")}  # deterministic skip-path exercise


def q_fanout_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet = 5 per-nation slices of shared customer/orders tables;
    source ``nation_3`` is marked missing its ``orders`` table and must
    be skipped (reference error-1146 path). One stacked plan, counted by
    source; a surviving nation with no rows still reports 0."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    cust = t["customer"]
    ords = t["orders"].join(
        cust.select("c_custkey", "c_nationkey"), t["orders"].o_custkey == F.col("c_custkey")
    )
    tables = {"customer": cust, "orders": ords}
    slices = {f"nation_{k}": (F.col("c_nationkey") == k) for k in _FANOUT_NATIONS}
    catalog = SlicedFleetCatalog(tables, slices, missing=_FANOUT_MISSING)

    def check(tabs: dict[str, DataFrame]) -> DataFrame:
        return volume_audit(tabs, group_by=[SOURCE_COL])

    result = run_fanout(catalog, check, required_tables=["customer", "orders"])
    assert result.skipped == [("nation_3", "orders")]
    live = [s for s in catalog.list_sources() if s not in {src for src, _ in result.skipped}]
    grid = spark.range(1).select(
        F.explode(F.array(*map(F.lit, live))).alias(SOURCE_COL),
        F.explode(F.array(*map(F.lit, tables))).alias("table_name"),
    )
    return grid.join(result.report, [SOURCE_COL, "table_name"], "left").select(
        F.col(SOURCE_COL).alias("source"),
        "table_name",
        F.coalesce("record_count", F.lit(0)).alias("record_count"),
    )


ORACLE_FANOUT_VOLUME = """
WITH fleet AS (SELECT UNNEST([0, 1, 2, 4]) AS k)
SELECT 'nation_' || k AS source, 'customer' AS table_name,
       (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = k) AS record_count
FROM fleet
UNION ALL
SELECT 'nation_' || k, 'orders',
       (SELECT COUNT(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey = k)
FROM fleet
"""


# ---------------------------------------------------------------------------
# SQL surface — TPC-H-style analytics (exercise agg/join/window/pushdown)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped sums/avgs over lineitem with a pushed-down
    shipdate filter. Money sums in exact integer cents (order-independent).
    ``l_quantity``/``l_discount`` are integer- and 2dp-valued doubles, so
    their plain double sums are exact too."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    f = li.filter(F.col("l_shipdate") < F.lit("2002-01-01").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cents = lambda c, s: F.round(c * (10**s), 0).cast("long")  # noqa: E731
    out = f.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum(cents(F.col("l_extendedprice"), 2)) / 100.0).alias("sum_base_price"),
        (F.sum(cents(disc_price, 4)) / 10000.0).alias("sum_disc_price"),
        (F.sum(cents(charge, 6)) / 1000000.0).alias("sum_charge"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        (F.sum(cents(F.col("l_extendedprice"), 2)) / 100.0 / F.count(F.lit(1))).alias("avg_price"),
        (F.sum(cents(F.col("l_discount"), 2)) / 100.0 / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return out.orderBy("l_returnflag", "l_linestatus")


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_base_price,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS sum_disc_price,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS BIGINT)) / 1000000.0 AS sum_charge,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 / COUNT(*) AS avg_price,
       SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) / 100.0 / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '2002-01-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join; small dims broadcast explicitly so the
    only shuffle is the final small groupBy."""
    t = load_tables(spark, sf_dir, ("region", "nation", "customer", "orders", "lineitem"))
    revenue_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast(
        "long"
    )
    df = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum(revenue_cents) / 10000.0).alias("revenue"),
            F.count_distinct("o_orderkey").alias("n_orders"),
        )
    )
    return df.orderBy("r_name", "n_name")


ORACLE_REVENUE_BY_NATION = """
SELECT r.r_name, n.n_name,
       SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS revenue,
       COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


def q_top_orders_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function top-k: top 3 orders by totalprice per status.
    Deterministic tie-break on o_orderkey."""
    from pyspark.sql.window import Window

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_orderstatus", "o_orderkey", "o_totalprice", "rn")
    )


ORACLE_TOP_ORDERS_PER_STATUS = """
SELECT o_orderstatus, o_orderkey, o_totalprice, rn FROM (
    SELECT o_orderstatus, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
    FROM orders
) WHERE rn <= 3
"""


def q_orphan_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity check via anti-join (a DQ primitive the
    reference lacks but its reconciliation implies): lineitems whose
    order key has no parent order, counted by returnflag."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    orphans = t["lineitem"].join(
        t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey, "left_anti"
    )
    return orphans.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("orphan_count"))


ORACLE_ORPHAN_LINEITEMS = """
SELECT l_returnflag, COUNT(*) AS orphan_count
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
GROUP BY l_returnflag
"""
