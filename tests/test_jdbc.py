"""Construction-level tests for the JDBC fleet path (S1/S12/S2 in
SURVEY §2.1). No live MySQL exists in the sandbox, so these exercise
everything up to the wire: URL/option construction, catalog
enumeration against a stubbed reader, and identifier escaping. The
reader stub returns local DataFrames shaped like the server's
information_schema responses (reference ``data_consistency_checks.py:
20-41`` connects + SHOW DATABASES; we mirror via
information_schema.schemata, which IS queryable as a derived table —
SHOW statements are not valid MySQL subqueries)."""

from __future__ import annotations

import data_quality_checks_in_relational_database_spark.sources.jdbc as J
from data_quality_checks_in_relational_database_spark.sources.jdbc import (
    JdbcConfig,
    JdbcFleetCatalog,
    _sql_str,
)

CFG = JdbcConfig(host="db.example.org", user="dq", password="s3cret", port=3307)


def test_jdbc_url_shapes():
    assert CFG.url() == "jdbc:mysql://db.example.org:3307/"
    assert CFG.url("openmrs_site_a") == "jdbc:mysql://db.example.org:3307/openmrs_site_a"


def test_jdbc_options_defaults_and_extra():
    cfg = JdbcConfig(
        host="h", user="u", password="p", extra={"sessionInitStatement": "SET NAMES utf8"}
    )
    opts = cfg.options("dbx", "obs")
    assert opts["url"] == "jdbc:mysql://h:3306/dbx"
    assert opts["dbtable"] == "obs"
    assert opts["driver"] == "com.mysql.cj.jdbc.Driver"
    # scan defaults that matter for DQ workloads
    assert opts["pushDownAggregate"] == "true"
    assert opts["fetchsize"] == "10000"
    # extras flow through stringified
    assert opts["sessionInitStatement"] == "SET NAMES utf8"


def test_list_sources_uses_information_schema_and_prefix(spark, monkeypatch):
    """Fleet enumeration must query information_schema.schemata (a valid
    derived table), never '(SHOW DATABASES) t' (invalid MySQL)."""
    seen: dict[str, str] = {}

    def fake_read(spark_, cfg, database, table, **kw):
        seen["dbtable"] = table
        return spark_.createDataFrame(
            [("information_schema",), ("openmrs_a",), ("openmrs_b",), ("misc",)],
            "schema_name string",
        )

    monkeypatch.setattr(J, "read_jdbc", fake_read)
    cat = JdbcFleetCatalog(spark, CFG)
    assert cat.list_sources("openmrs_") == ["openmrs_a", "openmrs_b"]
    assert "information_schema.schemata" in seen["dbtable"]
    assert "SHOW" not in seen["dbtable"].upper()


def test_table_exists_escapes_identifiers(spark, monkeypatch):
    seen: dict[str, str] = {}

    def fake_read(spark_, cfg, database, table, **kw):
        seen["dbtable"] = table
        return spark_.createDataFrame([(1,)], "n long")

    monkeypatch.setattr(J, "read_jdbc", fake_read)
    cat = JdbcFleetCatalog(spark, CFG)
    assert cat.table_exists("openmrs_a'; DROP TABLE x; --", "obs") is True
    # the hostile quote must arrive doubled, keeping it inside the literal
    assert "openmrs_a''; DROP TABLE x; --" in seen["dbtable"]


def test_sql_str_escaping():
    assert _sql_str("plain") == "plain"
    assert _sql_str("a'b") == "a''b"
    assert _sql_str("a\\b") == "a\\\\b"


def test_read_jdbc_partitioned_options(spark, monkeypatch):
    """Partitioned-read bounds must reach the reader options — this is
    the knob that turns a 1-connection scan into N parallel slices."""
    captured: dict[str, str] = {}

    class FakeReader:
        def format(self, fmt):
            captured["format"] = fmt
            return self

        def option(self, k, v):
            captured[k] = v
            return self

        def load(self):
            return spark.range(0)

    monkeypatch.setattr(type(spark), "read", property(lambda self: FakeReader()))
    J.read_jdbc(
        spark,
        CFG,
        "openmrs_a",
        "obs",
        partition_column="obs_id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=16,
    )
    assert captured["format"] == "jdbc"
    assert captured["partitionColumn"] == "obs_id"
    assert captured["lowerBound"] == "0"
    assert captured["upperBound"] == "1000000"
    assert captured["numPartitions"] == "16"


# ---------------------------------------------------------------------------
# LIVE round trip against embedded Apache Derby (jars ship inside Spark:
# derby/derbyshared/derbytools are on every Spark classpath because the
# Hive metastore embeds Derby). One database directory per test run;
# the fleet maps to Derby SCHEMAS via DERBY_DIALECT.
# ---------------------------------------------------------------------------


def _derby_cfg(tmp_path):
    return JdbcConfig(
        host="",  # unused: url_template takes over
        user="dq",
        password="",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        url_template=f"jdbc:derby:{tmp_path}/fleetdb;create=true",
        dialect=J.DERBY_DIALECT,
    )


def _seed_derby(spark, cfg, schema: str, table: str, rows):
    df = spark.createDataFrame(rows, "id long, status string")
    (
        df.write.format("jdbc")
        .option("url", cfg.url())
        .option("dbtable", f'"{schema}"."{table}"')
        .option("driver", cfg.driver)
        .mode("overwrite")
        .save()
    )


def test_derby_jdbc_round_trip_and_catalog(spark, tmp_path):
    """A REAL JDBC round trip: write two fleet schemas through Spark's
    JDBC sink, enumerate them via the system catalog, check table
    existence both ways, and read the rows back — every JdbcFleetCatalog
    code path over an actual driver connection."""
    cfg = _derby_cfg(tmp_path)
    _seed_derby(spark, cfg, "OPENMRS_A", "PATIENTS", [(1, "active"), (2, "dead")])
    _seed_derby(spark, cfg, "OPENMRS_B", "PATIENTS", [(3, "active")])

    cat = JdbcFleetCatalog(spark, cfg)
    assert cat.list_sources("OPENMRS_") == ["OPENMRS_A", "OPENMRS_B"]
    assert cat.table_exists("OPENMRS_A", "PATIENTS") is True
    assert cat.table_exists("OPENMRS_A", "NO_SUCH_TABLE") is False
    assert cat.table_exists("NO_SUCH_SCHEMA", "PATIENTS") is False

    a = cat.read("OPENMRS_A", "PATIENTS")
    assert {tuple(r) for r in a.collect()} == {(1, "active"), (2, "dead")}
    assert cat.read("OPENMRS_B", "PATIENTS").count() == 1


def test_derby_partitioned_read_live(spark, tmp_path):
    """Partitioned JDBC scan against a live driver: N bounded slices
    must reproduce exactly the unpartitioned rows (the knob that turns
    a 1-connection scan into parallel executor connections)."""
    cfg = _derby_cfg(tmp_path)
    rows = [(i, "s" + str(i % 3)) for i in range(100)]
    _seed_derby(spark, cfg, "OPENMRS_P", "OBS", rows)
    df = J.read_jdbc(
        spark,
        cfg,
        "",
        '"OPENMRS_P"."OBS"',
        partition_column="id",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 4
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)


def test_derby_fanout_over_live_fleet(spark, tmp_path):
    """The reference's fan-out check (S5/S6/S7) over a LIVE fleet:
    per-source volume audit with missing-table tolerance, through the
    same run_fanout path the parquet fleet uses — a source missing a
    required table is skipped and RECORDED, never an error (replaces
    the reference's error-1146 string sniffing)."""
    from pyspark.sql import functions as F

    from data_quality_checks_in_relational_database_spark.operators.fanout import (
        SOURCE_COL,
        run_fanout,
    )

    cfg = _derby_cfg(tmp_path)
    _seed_derby(spark, cfg, "OPENMRS_X", "OBS", [(1, "a"), (2, "b")])
    _seed_derby(spark, cfg, "OPENMRS_Y", "OBS", [(3, "a")])
    _seed_derby(spark, cfg, "OPENMRS_Y", "ENCOUNTER", [(4, "a")])
    cat = JdbcFleetCatalog(spark, cfg)

    def check(tables):
        return tables["OBS"].groupBy(F.col(SOURCE_COL).alias("source")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )

    rep = run_fanout(cat, check, ["OBS", "ENCOUNTER"], prefix="OPENMRS_")
    assert rep.attempted == 2 and rep.succeeded == 1
    assert rep.skipped == [("OPENMRS_X", "ENCOUNTER")]
    got = {(r["source"], r["n_rows"]) for r in rep.report.collect()}
    assert got == {("OPENMRS_Y", 1)}


def test_derby_filter_pushdown_reaches_remote_scan(spark, tmp_path):
    """Predicate pushdown against a LIVE driver: the filter must appear
    in the JDBC scan's PushedFilters with the handled marker (``*`` =
    the source evaluates it and Spark does NOT re-filter), so the
    remote database — not Spark — prunes the rows. A regression that
    silently evaluates the predicate Spark-side fails here."""
    cfg = _derby_cfg(tmp_path)
    rows = [(i, "s" + str(i % 3)) for i in range(100)]
    _seed_derby(spark, cfg, "OPENMRS_F", "OBS", rows)
    df = J.read_jdbc(spark, cfg, "", '"OPENMRS_F"."OBS"').filter("id > 90")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan, plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "*GreaterThan(id,90)" in pushed, plan
    # no Spark-side Filter node re-evaluating the pushed predicate
    assert "Filter (" not in plan and "Filter [" not in plan, plan
    assert {r["id"] for r in df.collect()} == set(range(91, 100))
