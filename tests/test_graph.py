"""PageRank unit gates: hand-graph vs a pure-Python replay of the same
recurrence (fixed iterations, dangling redistribution), plus edge cases
the differential oracle can't reach (empty graph, pure-sink node)."""

import pytest
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators.graph import pagerank


def _reference_pagerank(edges, iters=10, d=0.85):
    """Pure-Python replay of the documented recurrence.

    edges: list of (src, dst, w)."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if v not in outw)
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            contrib[t] += r[s] * w / outw[s]
        r = {v: (1 - d) / n + d * (contrib[v] + dang / n) for v in nodes}
    return {v: round(r[v], 6) for v in nodes}


def test_pagerank_matches_reference_with_dangling(spark):
    # c is a pure sink (dangling); multi-edge a->b collapses by weight
    edges = [
        ("a", "b", 1.0),
        ("a", "b", 2.0),
        ("b", "a", 1.0),
        ("a", "c", 1.0),
        ("b", "c", 3.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r["node"]: r["rank"] for r in pagerank(df, weight_col="w").collect()}
    # collapse the multi-edge the same way the operator does
    collapsed = [("a", "b", 3.0), ("b", "a", 1.0), ("a", "c", 1.0), ("b", "c", 3.0)]
    want = _reference_pagerank(collapsed)
    assert got == want
    assert abs(sum(got.values()) - 1.0) < 1e-5  # mass conserved


def test_pagerank_unweighted_defaults(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    # symmetric cycle: uniform ranks
    assert got == {"a": round(1 / 3, 6), "b": round(1 / 3, 6), "c": round(1 / 3, 6)}


def test_pagerank_empty_graph(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank(df).count() == 0


def test_pagerank_null_endpoints_dropped(spark):
    df = spark.createDataFrame(
        [("a", "b", 1.0), (None, "b", 9.0), ("b", None, 9.0), ("b", "a", 1.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, weight_col="w").collect()}
    want = _reference_pagerank([("a", "b", 1.0), ("b", "a", 1.0)])
    assert got == want


def test_pagerank_distributed_path_equals_driver_path(spark):
    """driver_threshold=0 forces the iterative Spark loop; outputs must
    be identical to the small-graph driver replay (same recurrence)."""
    edges = [
        ("a", "b", 1.0),
        ("b", "a", 2.0),
        ("a", "c", 1.0),
        ("b", "c", 3.0),
        ("c", "d", 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    fast = {r["node"]: r["rank"] for r in pagerank(df, weight_col="w").collect()}
    dist = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight_col="w", driver_threshold=0).collect()
    }
    assert fast == dist


def test_triangle_counts_hand_graph(spark):
    """Triangle {1,2,3} plus pendant 4 attached to 3; duplicate and
    reversed edges collapse."""
    from data_quality_checks_in_relational_database_spark.operators.graph import triangle_counts

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4), (4, 3), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r for r in triangle_counts(df).collect()}
    assert {n: got[n]["triangles"] for n in (1, 2, 3, 4)} == {1: 1, 2: 1, 3: 1, 4: 0}
    assert {n: got[n]["degree"] for n in (1, 2, 3, 4)} == {1: 2, 2: 2, 3: 3, 4: 1}
    assert got[1]["clustering_coeff"] == 1.0  # 2*1/(2*1)
    assert got[3]["clustering_coeff"] == round(2 * 1 / (3 * 2), 6)
    assert got[4]["clustering_coeff"] is None  # degree < 2
    assert 5 not in got  # self-loop dropped entirely


# ---------------------------------------------------------------------------
# Personalized PageRank (r5)
# ---------------------------------------------------------------------------

from data_quality_checks_in_relational_database_spark.operators.graph import (  # noqa: E402
    degree_assortativity,
    modularity_terms,
    personalized_pagerank,
)


def _reference_ppr(edges, seeds, iters=10, d=0.85):
    """Pure-Python replay of the seeded recurrence: teleport AND
    dangling mass confined to the seed set."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges} | set(seeds))
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    tele = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    r = dict(tele)
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if v not in outw)
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            contrib[t] += r[s] * w / outw[s]
        r = {v: (1 - d) * tele[v] + d * (contrib[v] + dang * tele[v]) for v in nodes}
    return {v: round(r[v], 6) for v in nodes}


_PPR_EDGES = [
    ("a", "b", 2.0),
    ("b", "c", 1.0),
    ("c", "a", 1.0),
    ("a", "d", 1.0),  # d is a pure sink: dangling mass returns to seeds
]


def test_ppr_matches_reference_and_conserves_mass(spark):
    df = spark.createDataFrame(_PPR_EDGES, "src string, dst string, w double")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, weight_col="w").collect()
    }
    want = _reference_ppr(_PPR_EDGES, {"a"})
    assert got == want
    assert abs(sum(got.values()) - 1.0) < 1e-5
    # seed proximity ordering: the seed itself holds the most mass,
    # and b (directly fed by a) outranks c (two hops out)
    assert got["a"] > got["b"] > got["c"]


def test_ppr_distributed_path_equals_driver_path(spark):
    df = spark.createDataFrame(_PPR_EDGES, "src string, dst string, w double")
    seeds = spark.createDataFrame([("a",), ("b",)], "node string")
    fast = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, weight_col="w").collect()
    }
    dist = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            df, seeds, weight_col="w", driver_threshold=0
        ).collect()
    }
    assert fast == dist


def test_ppr_seed_outside_graph_holds_teleport_mass(spark):
    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    seeds = spark.createDataFrame([("z",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, weight_col="w").collect()
    }
    # z never receives link mass but keeps its teleport share; a/b get
    # mass only through z's dangling redistribution -> back to z
    want = _reference_ppr([("a", "b", 1.0), ("b", "a", 1.0)], {"z"})
    assert got == want
    assert got["z"] > 0


def test_ppr_empty_seeds_empty_result(spark):
    df = spark.createDataFrame([("a", "b", 1.0)], "src string, dst string, w double")
    seeds = spark.createDataFrame([], "node string")
    assert personalized_pagerank(df, seeds, weight_col="w").count() == 0


# ---------------------------------------------------------------------------
# Modularity terms (r5)
# ---------------------------------------------------------------------------


def test_modularity_two_cliques_positive_split_negative(spark):
    # two triangles joined by one bridge edge: m = 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "doc_id_a long, doc_id_b long",
    )
    good = spark.createDataFrame(
        [(i, 1 if i <= 3 else 4) for i in range(1, 7)], "node long, label long"
    )
    terms = {
        r["community"]: r for r in modularity_terms(pairs, good).collect()
    }
    # natural split: each community holds a triangle (3 intra edges),
    # degree mass 7 -> term = 3/7 - (7/14)^2 = 0.178571
    assert set(terms) == {1, 4}
    for c in (1, 4):
        assert terms[c]["n_nodes"] == 3
        assert terms[c]["intra_edges"] == 3
        assert terms[c]["degree_sum"] == 7
        assert terms[c]["modularity_term"] == round(3 / 7 - 0.25, 6)
    # degenerate partition: everything one community -> Q = 7/7 - 1 = 0
    allone = spark.createDataFrame(
        [(i, 9) for i in range(1, 7)], "node long, label long"
    )
    (row,) = modularity_terms(pairs, allone).collect()
    assert row["modularity_term"] == 0.0
    # Q sums over terms: good split strictly beats the degenerate one
    assert sum(t["modularity_term"] for t in terms.values()) > 0.0


def test_modularity_unlabeled_nodes_are_singletons(spark):
    pairs = spark.createDataFrame([(1, 2)], "doc_id_a long, doc_id_b long")
    labels = spark.createDataFrame([(1, 1)], "node long, label long")
    rows = {r["community"]: r for r in modularity_terms(pairs, labels).collect()}
    # node 2 has no label -> its own singleton community
    assert set(rows) == {1, 2}
    assert rows[2]["intra_edges"] == 0


# ---------------------------------------------------------------------------
# Degree assortativity (r5)
# ---------------------------------------------------------------------------


def test_assortativity_star_is_negative_one(spark):
    # hub-and-spoke: every edge links degree-4 hub to degree-1 leaf
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "doc_id_a long, doc_id_b long"
    )
    (row,) = degree_assortativity(pairs).collect()
    assert row["n_nodes"] == 5 and row["n_edges"] == 4
    assert row["assortativity"] == -1.0


def test_assortativity_regular_graph_is_null(spark):
    # 4-cycle: all degrees equal -> zero variance -> NULL by contract
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "doc_id_a long, doc_id_b long"
    )
    (row,) = degree_assortativity(pairs).collect()
    assert row["assortativity"] is None


def test_assortativity_two_regime_graph_positive(spark):
    # two K4 cliques (high-degree nodes attach to high-degree nodes)
    # plus a pendant chain off one clique -> positive but < 1
    edges = []
    for base in (0, 10):
        for i in range(4):
            for j in range(i + 1, 4):
                edges.append((base + i, base + j))
    edges += [(3, 20), (20, 21)]
    pairs = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    (row,) = degree_assortativity(pairs).collect()
    assert row["assortativity"] is not None
    assert 0.0 < row["assortativity"] < 1.0


# ---------------------------------------------------------------------------
# HITS (r5)
# ---------------------------------------------------------------------------

from data_quality_checks_in_relational_database_spark.operators.graph import (  # noqa: E402
    hits_scores,
)


def _reference_hits(edges, iters=10):
    """Pure-Python replay: L1-normalized half-steps over (src, dst, w)."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    n = len(nodes)
    hub = {v: 1.0 / n for v in nodes}
    auth = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        na = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            na[t] += hub[s] * w
        sa = sum(na[v] for v in nodes)
        auth = {v: (na[v] / sa if sa > 0 else 0.0) for v in nodes}
        nh = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            nh[s] += auth[t] * w
        sh = sum(nh[v] for v in nodes)
        hub = {v: (nh[v] / sh if sh > 0 else 0.0) for v in nodes}
    return (
        {v: round(hub[v], 6) for v in nodes},
        {v: round(auth[v], 6) for v in nodes},
    )


_HITS_EDGES = [
    # a and b both point at c (c = authority); a also points at b
    ("a", "c", 2.0),
    ("b", "c", 1.0),
    ("a", "b", 1.0),
]


def test_hits_matches_reference_and_separates_roles(spark):
    df = spark.createDataFrame(_HITS_EDGES, "src string, dst string, w double")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits_scores(df, weight_col="w").collect()}
    want_h, want_a = _reference_hits(_HITS_EDGES)
    assert got == {v: (want_h[v], want_a[v]) for v in want_h}
    # role separation: c is the top authority but a zero hub;
    # a is the top hub but a zero authority
    assert got["c"][1] > got["b"][1] and got["c"][0] == 0.0
    assert got["a"][0] > got["b"][0] and got["a"][1] == 0.0


def test_hits_distributed_path_equals_driver_path(spark):
    df = spark.createDataFrame(_HITS_EDGES, "src string, dst string, w double")
    fast = {r["node"]: (r["hub"], r["authority"]) for r in hits_scores(df, weight_col="w").collect()}
    dist = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits_scores(df, weight_col="w", driver_threshold=0).collect()
    }
    assert fast == dist


def test_hits_empty_graph(spark):
    df = spark.createDataFrame([], "src string, dst string, w double")
    assert hits_scores(df, weight_col="w").count() == 0


# ---------------------------------------------------------------------------
# One rank loop: result typing and job count on every path
# ---------------------------------------------------------------------------

from pyspark.sql.types import IntegerType  # noqa: E402

from data_quality_checks_in_relational_database_spark.operators.cluster import (  # noqa: E402
    connected_components,
    label_propagation,
)
from tests.conftest import jobs_in_group  # noqa: E402

_RANKERS = {
    "pagerank": lambda e, s, **kw: pagerank(e, weight_col="w", **kw),
    "ppr": lambda e, s, **kw: personalized_pagerank(e, s, weight_col="w", **kw),
    "hits": lambda e, s, **kw: hits_scores(e, weight_col="w", **kw),
}

_TYPED = {
    **_RANKERS,
    "components": lambda e, s, **kw: connected_components(e, "src", "dst", **kw),
    "label_propagation": lambda e, s, **kw: label_propagation(e, "src", "dst", **kw),
}


@pytest.mark.parametrize("op", sorted(_TYPED))
def test_node_typed_from_input_ids_on_every_path(spark, op):
    """The driver path, the distributed loop and the empty result all
    type ``node`` (and ``cluster_id``/``label``) like the int32 input
    ids."""
    schema = "src int, dst int, w double"
    edges = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0), (3, 1, 2.0), (1, 4, 1.0)], schema)
    seeds = spark.createDataFrame([(1,)], "node int")
    no_edges = spark.createDataFrame([], schema)
    no_seeds = spark.createDataFrame([], "node int")
    rank = _TYPED[op]
    driver = rank(edges, seeds)
    dist = rank(edges, seeds, driver_threshold=0)
    empty = rank(no_edges, no_seeds)
    assert empty.count() == 0
    assert driver.schema["node"].dataType == IntegerType()
    assert driver.dtypes == dist.dtypes == empty.dtypes


@pytest.mark.parametrize("op, jobs", [("pagerank", 78), ("ppr", 84)])
def test_forced_distributed_rank_job_count(spark, op, jobs):
    """Spark jobs of a forced-distributed call plus its collect on a
    tiny graph. PageRank shares PPR's loop but not its seed work (the
    seed count and the teleport-vector fill), so it stays 6 jobs below
    PPR; a seed join or an extra probe in the shared loop moves both.

    Where the 78 go (status store, job descriptions per phase; local[4],
    AQE on): 11 before the loop — the arc-list fill and the node count
    (2) plus the 9 query-stage jobs AQE submits under them (PPR: 17,
    its seed distinct, seed count and teleport join add 6); 61 in the
    10 rounds — 6 query-stage jobs per round, which AQE submits when
    the lazy ``localCheckpoint`` converts the round's plan (its join and
    aggregation exchanges and the dangling-mass broadcast), plus 1 in
    round 1 filling the ``srcs`` pin; 4 for the 2 probes (an aggregate
    stage and a collect each); 1 for the kept result's eager checkpoint
    and 1 for the caller's collect."""
    edges = spark.createDataFrame(_PPR_EDGES, "src string, dst string, w double")
    seeds = spark.createDataFrame([("a",)], "node string")
    run = lambda: _RANKERS[op](edges, seeds, driver_threshold=0).collect()  # noqa: E731
    assert jobs_in_group(spark, f"forced-distributed-{op}", run) == jobs
