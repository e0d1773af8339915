"""Shared fixtures: one local SparkSession per test run, DuckDB oracle
connection with the driver's pre-registered views, and the
order-insensitive comparator mirroring the driver's correctness gate."""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

import duckdb
import pytest

from data_quality_checks_in_relational_database_spark.session import TABLES, get_spark

SF_SMOKE = os.environ.get("SPARK_DQ_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="spark-dq-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell value for cross-engine comparison."""
    if isinstance(v, Decimal):
        v = float(v)  # fall through to the float branch (repr)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact repr: we want bit-identical doubles across engines
        return repr(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def normalized_rows(columns, rows):
    """Sort columns by name, normalize values, return sorted row multiset
    (the driver hashes this shape; we compare it directly for better
    diagnostics)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(columns), sorted(out, key=repr)


def assert_matches_oracle(spark_df, duck_con, sql):
    sdf = spark_df
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck_con.execute(sql)
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    s_cols, s_vals = normalized_rows(scols, srows)
    d_cols, d_vals = normalized_rows(dcols, drows)
    assert s_cols == d_cols, f"column mismatch: spark={s_cols} duckdb={d_cols}"
    assert len(s_vals) == len(d_vals), f"row count: spark={len(s_vals)} duckdb={len(d_vals)}"
    mismatches = [
        (a, b) for a, b in zip(s_vals, d_vals) if a != b
    ]
    assert not mismatches, f"{len(mismatches)} mismatching rows; first: {mismatches[0]}"


def jobs_in_group(spark, group, action):
    """Spark jobs ``action`` launches, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def with_executed_plans(spark, build):
    """``(build(), plans)``: what ``build`` returns and the formatted
    physical plan of every SQL execution it ran (eager fills, kept
    results), read from the status store after the listener bus drains.
    An operator that returns a checkpointed result has only its scan in
    the returned plan; the work that made it is in these plans."""

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return spark._jsparkSession.sharedState().statusStore().executionsList()

    before = executions()
    last = before.apply(before.size() - 1).executionId() if before.size() else -1
    out = build()
    after = executions()  # ordered by execution id: read back from the end
    plans, i = [], after.size() - 1
    while i >= 0 and after.apply(i).executionId() > last:
        plans.append(after.apply(i).physicalPlanDescription())
        i -= 1
    return out, plans[::-1]
