#!/usr/bin/env python3
"""Forced-distributed A/B harness for the iterative-loop probe cadence
(r9, verdict item #1/#4).

At the shipped SFs every graph/cluster loop takes the driver fast path
(the aggregated arc/edge lists sit far under driver_threshold), so the
distributed per-round probe cadence cannot be measured by the bench.
This harness forces the distributed loop with ``driver_threshold=0``
on the real sf0.1 inputs (plus a deep-chain synthetic graph for the
convergence loop), runs the per-round cadence (``graph.PROBE_EVERY``
and ``cluster.PROBE_STRIDE`` set to 1) against the shipped batched
cadence interleaved in ONE session, and reports wall time, Spark job
counts (per job group), and an output-equality check.

Usage: python scripts/forced_distributed_ab.py [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators import cluster, graph
from data_quality_checks_in_relational_database_spark.session import (
    get_spark,
    load_tables,
)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="forced-distributed-ab",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def clear_state() -> None:
        spark.catalog.clearCache()
        for jrdd in sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    arcs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    seeds = spark.createDataFrame(
        [("purchase",), ("checkout",)], schema="node string"
    )
    # deep chain: min-label propagation needs ~diameter rounds, which
    # is where per-round probe barriers actually accumulate
    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(18)], schema="doc_id_a long, doc_id_b long"
    )

    # each arm sets the module cadence constants before its call
    knobs = ((graph, "PROBE_EVERY"), (cluster, "PROBE_WARMUP"), (cluster, "PROBE_STRIDE"))
    cadence = {
        "old": (1, cluster.PROBE_WARMUP, 1),
        "new": tuple(getattr(mod, name) for mod, name in knobs),
    }

    def arm(lbl, fn):
        def run():
            for (mod, name), value in zip(knobs, cadence[lbl]):
                setattr(mod, name, value)
            return fn()

        return run

    calls = {
        "pagerank": lambda: graph.pagerank(
            arcs, "src", "dst", weight_col="w", driver_threshold=0
        ),
        "ppr": lambda: graph.personalized_pagerank(
            arcs, seeds, "src", "dst", weight_col="w", driver_threshold=0
        ),
        "hits": lambda: graph.hits_scores(
            arcs, "src", "dst", weight_col="w", driver_threshold=0
        ),
        "connected_components_chain": lambda: cluster.connected_components(
            chain, driver_threshold=0
        ),
    }
    cases = {
        name: {lbl: arm(lbl, fn) for lbl in ("old", "new")} for name, fn in calls.items()
    }

    for name, variants in cases.items():
        # output equality first (sorted collect)
        out = {}
        for lbl, fn in variants.items():
            out[lbl] = sorted(map(tuple, fn().collect()))
            clear_state()
        assert out["old"] == out["new"], f"{name}: outputs differ"
        res = {"old": [], "new": []}
        jobs = {"old": [], "new": []}
        for lbl, fn in variants.items():  # warm both
            fn().count()
            clear_state()
        for rep in range(reps):
            for lbl, fn in variants.items():
                group = f"{name}-{lbl}-{rep}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                fn().count()
                res[lbl].append(round(time.perf_counter() - t0, 3))
                jobs[lbl].append(
                    len(sc.statusTracker().getJobIdsForGroup(group))
                )
                sc.setJobGroup(None, None)
                clear_state()
        for lbl in ("old", "new"):
            xs = sorted(res[lbl])
            print(
                f"{name} {lbl}: wall={res[lbl]} min={xs[0]:.3f} "
                f"med={xs[len(xs) // 2]:.3f} jobs={jobs[lbl]}"
            )


if __name__ == "__main__":
    main()
