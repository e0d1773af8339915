"""Unit tests for the five check primitives on crafted data — pinning
the reference's semantic edges: outer-join NULL variance, pandas-
widening union in the fan-out, missing-table skip, and the audited
sink's post-write verification."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators.checks import reconcile
from data_quality_checks_in_relational_database_spark.operators.fanout import SOURCE_COL, run_fanout
from data_quality_checks_in_relational_database_spark.sources.catalog import SlicedFleetCatalog
from data_quality_checks_in_relational_database_spark.sources.sinks import write_report
from tests.conftest import jobs_in_group


def test_reconcile_null_variance(spark):
    """pre_and_post_etl_checks.py:239 parity: one-sided rows propagate
    NULL through the variance (pandas NaN arithmetic)."""
    src = spark.createDataFrame(
        [("s1", "obs", 10), ("s1", "enc", 5), ("s2", "obs", 7)],
        ["site_id", "table_name", "record_count"],
    )
    dst = spark.createDataFrame(
        [("s1", "obs", 10), ("s1", "enc", 3), ("s3", "obs", 2)],
        ["site_id", "table_name", "record_count"],
    )
    out = {
        (r["site_id"], r["table_name"]): (
            r["record_count_source"],
            r["record_count_ohdl"],
            r["variance"],
        )
        for r in reconcile(src, dst, keys=["site_id", "table_name"]).collect()
    }
    assert out[("s1", "obs")] == (10, 10, 0)
    assert out[("s1", "enc")] == (5, 3, 2)
    assert out[("s2", "obs")] == (7, None, None)  # source-only → NULL variance
    assert out[("s3", "obs")] == (None, 2, None)  # dest-only → NULL variance


def test_fanout_skips_missing_and_widens_schema(spark):
    t1 = spark.createDataFrame([(1, "x")], ["site", "a"])
    tables = {"t1": t1}

    class WideningCatalog(SlicedFleetCatalog):
        def read(self, source, table):
            df = super().read(source, table)
            if source == "s3":  # extra column → pandas-style widening on union
                df = df.withColumn("extra", F.lit(1))
            return df

    cat = WideningCatalog(
        tables,
        slices={"s1": F.lit(True), "s2": F.lit(True), "s3": F.lit(True)},
        missing={("s2", "t1")},
    )
    calls = []

    def check(tabs):
        calls.append(sorted(tabs))
        widened = {r[SOURCE_COL]: r["extra"] for r in tabs["t1"].collect()}
        assert widened == {"s1": None, "s3": 1}  # widened with NULLs
        return tabs["t1"].groupBy(F.col(SOURCE_COL).alias("source")).agg(
            F.count(F.lit(1)).alias("n"), F.max("extra").alias("extra")
        )

    result = run_fanout(cat, check, required_tables=["t1"])
    assert calls == [["t1"]]  # one check over the stacked fleet
    assert result.attempted == 3 and result.succeeded == 2
    assert result.skipped == [("s2", "t1")]
    rows = {r["source"]: (r["n"], r["extra"]) for r in result.report.collect()}
    assert rows == {"s1": (1, None), "s3": (1, 1)}


def test_fanout_rejects_reserved_source_column(spark):
    t1 = spark.createDataFrame([(1, "x")], ["site", SOURCE_COL])
    cat = SlicedFleetCatalog({"t1": t1}, slices={"s1": F.lit(True)})
    with pytest.raises(ValueError, match=SOURCE_COL):
        run_fanout(cat, lambda tabs: tabs["t1"], required_tables=["t1"])


def test_write_report_audit(spark):
    df = spark.range(5).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as d:
        audit = write_report(df, f"{d}/report", expected_count=5)
        assert audit.ok and audit.rows_written == 5
        audit2 = write_report(df, f"{d}/report", mode="append", expected_count=5)
        assert not audit2.ok and audit2.rows_written == 10  # append doubled


def test_write_report_audit_starts_no_job(spark, tmp_path):
    """The audit reads the row counts from the written files' footers:
    ``write_report`` launches exactly the jobs of a bare parquet write
    of the same (shuffled) frame, no recount scan."""
    df = spark.range(24).groupBy((F.col("id") % 6).alias("g")).agg(F.sum("id").alias("s"))
    bare = jobs_in_group(
        spark, "sinks-bare-write", lambda: df.write.parquet(str(tmp_path / "bare"))
    )
    audited = jobs_in_group(
        spark, "sinks-write-report", lambda: write_report(df, str(tmp_path / "report"))
    )
    assert bare > 0 and audited == bare


@pytest.mark.parametrize("sink", ["write_report", "write_partitioned", "merge_upsert"])
def test_sinks_reject_uri_paths_before_any_job(spark, sink):
    """A non-local target fails at entry: no Spark job is started and no
    audit of 0 rows is returned."""
    from data_quality_checks_in_relational_database_spark.sources import sinks

    df = spark.range(3).withColumnRenamed("id", "k")
    path = "s3a://bucket/report"
    calls = {
        "write_report": lambda: sinks.write_report(df, path),
        "write_partitioned": lambda: sinks.write_partitioned(df, path, ["k"]),
        "merge_upsert": lambda: sinks.merge_upsert(spark, path, df, ["k"]),
    }
    with pytest.raises(ValueError, match="local paths"):
        jobs_in_group(spark, f"sinks-uri-{sink}", calls[sink])
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(f"sinks-uri-{sink}") == []


def test_rule_violation_rows_tags_offenders(spark):
    """Side-output must name exactly the rules each bad row breaks,
    cap per-rule samples, and emit nothing for clean data."""
    from data_quality_checks_in_relational_database_spark.operators import rules as R

    df = spark.createDataFrame(
        [(1, "ok", 5.0), (2, None, 5.0), (3, "ok", -1.0), (4, None, -2.0)],
        "id long, status string, amount double",
    )
    rs = [
        R.not_null("t", "status"),
        R.in_range("t", "amount", 0.0, 10.0),
    ]
    got = {
        (r.rule_name, r.id)
        for r in R.rule_violation_rows(df, rs, key_cols=["id"]).collect()
    }
    assert got == {
        ("t.status.not_null", 2),
        ("t.status.not_null", 4),
        ("t.amount.in_range", 3),
        ("t.amount.in_range", 4),
    }
    capped = R.rule_violation_rows(df, rs, key_cols=["id"], max_rows_per_rule=1).collect()
    assert len(capped) == 2  # one sample per rule
    clean = df.filter("id = 1")
    assert R.rule_violation_rows(clean, rs, key_cols=["id"]).count() == 0
