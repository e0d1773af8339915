"""Round-8 optimization pins.

Each test pins the PLAN SHAPE an r8 optimization bought, so a future
refactor that silently reintroduces the duplicated lineage (or an
eager per-round barrier) goes red here rather than only slowing the
bench. Value-level correctness stays with the per-query oracle gates;
these tests look at plans and at cheap equivalences only.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from tests.conftest import with_executed_plans

# same data-dir override the rest of the suite honors (conftest.py)
SF_DIR = os.environ.get("SPARK_DQ_TEST_SF_DIR", "/root/testdata/sf0.001")


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_tfidf_postings_pinned_single_lineage(spark):
    """tfidf_cosine_pairs pins its tf/widx postings tables: the final
    plan must read the tokenize→gram-explode lineage through
    InMemoryRelation instead of re-running it per consumer (r8
    before-plan: 16 parquet scans, 0 reuse, no cache node). Text-level
    scan counts are ambiguous once InMemoryRelation expands its cached
    child inline, so the pin is cache PRESENCE: dropping either pin
    removes its InMemoryTableScan nodes. The operator returns a
    checkpointed result, so the plans read are the returned one and
    every plan the build ran."""
    from data_quality_checks_in_relational_database_spark.plans.extension_queries import (
        q_tfidf_cosine_pairs_capped,
    )

    df, ran = with_executed_plans(spark, lambda: q_tfidf_cosine_pairs_capped(spark, SF_DIR))
    plan = "\n".join([_formatted_plan(df), *ran])
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, plan[:2000]
    # and each pin is read through its own cache: tf (sid, term, tf)
    # and widx (sid, term, w); the count above holds with either alone
    for col in ("tf", "w"):
        assert re.search(rf"InMemoryTableScan\nOutput \[\d+\]: \[[^\]]*\b{col}#", plan), col


def test_dsir_tf_pinned_single_lineage(spark):
    """q_dsir_select pins the (doc, tok) tf table AND the per-doc
    score table; both must appear as cache reads in the final plan
    (r8 before-plan: 20 parquet scans, 0 reuse, no cache node)."""
    from data_quality_checks_in_relational_database_spark.plans.curation_queries import (
        q_dsir_select,
    )

    df = q_dsir_select(spark, SF_DIR)
    plan = _formatted_plan(df)
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, plan[:2000]


def test_power_iteration_single_arrow_pass(spark):
    """q_power_iteration_pc1 pins the Arrow Gramian partials: the
    n_vecs total and the Gramian must NOT each re-run the corpus
    Arrow pass (r8 before-plan: 2 full passes + a 1-batch pass)."""
    from data_quality_checks_in_relational_database_spark.plans.round7_queries import (
        q_power_iteration_pc1,
    )

    df = q_power_iteration_pc1(spark, SF_DIR)
    plan = _formatted_plan(df)
    # the single allowed Python pass lives inside the cached lineage;
    # formatted output shows it once in the tree and once in details
    n_python = len(re.findall(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan))
    assert n_python <= 2, f"Arrow pass duplicated: {n_python} python nodes"


def test_covariance_single_arrow_pass(spark):
    """covariance_long pins its Gramian partials the same way: the
    Arrow pass must be read through InMemoryRelation by its four
    consumers (dropping the persist removes every InMemoryTableScan —
    python-node counts are ambiguous in text because each cache
    reference re-prints the cached child plan)."""
    from data_quality_checks_in_relational_database_spark.operators.linalg import (
        covariance_long,
    )
    from data_quality_checks_in_relational_database_spark.session import load_tables

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    plan = _formatted_plan(covariance_long(emb))
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, plan[:2000]


def test_zonemap_report_collapses_to_cells_first(spark):
    """The zone-map audit must aggregate rows to the bounded (xb, yb)
    cell grid BEFORE the per-layout explode (guide §2.3 'aggregate
    before you shuffle'): the explode's input is the cell aggregation,
    never the raw fact rows — visible as a Generate above a
    HashAggregate whose grouping carries xb and yb."""
    from data_quality_checks_in_relational_database_spark.plans.scale_queries import (
        q_zorder_skipping,
    )

    df = q_zorder_skipping(spark, SF_DIR)
    plan = _formatted_plan(df)
    tree = plan.split("\n\n(")[0]
    # in the operator tree, the Generate (layout explode) must sit
    # ABOVE a HashAggregate that sits above the scan — the old plan had
    # Generate directly over Project→Scan (raw fact rows exploded)
    m = re.search(r"Generate[\s\S]*?HashAggregate[\s\S]*?Scan parquet", tree)
    assert m, f"cell collapse missing:\n{tree}"


def test_zonemap_cell_collapse_equals_rowlevel(spark):
    """Value equivalence of the r8 cell-collapsed zone-map report
    against a direct row-level reference on sf0.001."""
    from data_quality_checks_in_relational_database_spark.plans.scale_queries import (
        _ZBITS,
        _bucketed_lineitem,
        interleave_bits,
        q_zorder_skipping,
    )

    keyed = _bucketed_lineitem(spark, SF_DIR).withColumn(
        "zfile", F.shiftright(interleave_bits(["xb", "yb"], bits=_ZBITS), _ZBITS)
    )
    layouts = [("zorder", "zfile"), ("price_sort", "xb"), ("date_sort", "yb")]
    lay = keyed.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(n).alias("layout"), F.col(c).alias("file_id"))
                    for n, c in layouts
                ]
            )
        ).alias("lf"),
        "xc", "yd", "lox", "hix", "loy", "hiy",
    )
    zone = lay.groupBy(
        F.col("lf.layout").alias("layout"), F.col("lf.file_id").alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xc").alias("min_x"), F.max("xc").alias("max_x"),
        F.min("yd").alias("min_y"), F.max("yd").alias("max_y"),
        F.min("lox").alias("lox"), F.min("hix").alias("hix"),
        F.min("loy").alias("loy"), F.min("hiy").alias("hiy"),
        F.sum(
            F.when(
                F.col("xc").between(F.col("lox"), F.col("hix"))
                & F.col("yd").between(F.col("loy"), F.col("hiy")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("n_match"),
    )
    touched = (
        (F.col("max_x") >= F.col("lox"))
        & (F.col("min_x") <= F.col("hix"))
        & (F.col("max_y") >= F.col("loy"))
        & (F.col("min_y") <= F.col("hiy"))
    )
    ref = (
        zone.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(touched, F.lit(1)).otherwise(F.lit(0))).alias("files_touched"),
            F.sum(F.when(touched, F.col("n_rows")).otherwise(F.lit(0))).alias("rows_touched"),
            F.sum("n_match").alias("rows_matched"),
        )
    )
    got = {tuple(r) for r in q_zorder_skipping(spark, SF_DIR).collect()}
    want = {tuple(r) for r in ref.collect()}
    assert got == want


def test_bfs_lazy_checkpoints_preserve_multireference_rounds(spark):
    """The r8 lazy-checkpoint rewrite keeps BFS semantics under the
    multi-reference pattern it must protect (round h's frontier feeds
    BOTH the anti-join and the union; the seed set feeds every round):
    min-hop labels on a chain stay exact, and a node reachable two
    ways keeps the SHORTER distance. (Note: with AQE, even lazy
    checkpoints execute upstream query stages at plan-conversion time —
    the win is skipping the per-round block-save job, not zero jobs.)"""
    from data_quality_checks_in_relational_database_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    out = bfs_hops(edges, seeds, max_hops=3)
    rows = {(r.node, r.hops) for r in out.collect()}
    assert rows == {(1, 0), (2, 1), (4, 1), (3, 2)}
