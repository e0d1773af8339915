"""Graph-analytics queries over the driver testdata, with DuckDB
oracles.

The reference has no graph operations (SURVEY.md §1.1 — flat tabular
checks only); these are training-data-pipeline extensions: link/
transition-graph authority scores are a standard corpus-quality prior,
and the event transition graph doubles as a product-analytics surface.

Oracle strategy: PageRank is iterative, which recursive CTEs express
awkwardly (the recursive member may reference the working table only
once, but each step needs both the per-node contribution join AND the
global dangling-mass scalar). Since the iteration count is FIXED, the
oracle simply UNROLLS: ``pr0 .. pr{k}`` chained CTEs generated
mechanically below — plain ANSI SQL, no recursion, bit-for-bit the
same recurrence the Spark loop runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators.graph import pagerank
from data_quality_checks_in_relational_database_spark.session import load_tables

_ITERS = 10
_DAMPING = 0.85


def q_pagerank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the first-order event-transition graph: nodes are
    event types, arcs are observed (state -> next state) transitions
    per user (same successor definition as ``transitions``), weighted
    by transition count. One window scan builds the graph; the fixed
    10-iteration rank loop shuffles only (node, rank) pairs
    (operators/graph.py)."""
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
    out = pagerank(arcs, "src", "dst", weight_col="w", iters=_ITERS, damping=_DAMPING)
    return out.select(F.col("node").alias("event_type"), "rank").orderBy(
        F.col("rank").desc(), F.col("event_type")
    )


def _pagerank_oracle(iters: int, damping: float) -> str:
    head = """
WITH e0 AS (
    SELECT user_id AS u, event_type AS s, epoch_us(ts) AS t, event_id AS rid
    FROM events
),
tr AS (
    SELECT s AS src, LEAD(s) OVER (PARTITION BY u ORDER BY t, rid) AS dst FROM e0
),
edges AS (
    SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
    FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
pr0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # each step references pr{i-1} twice (contribution join +
        # dangling-mass scalar) — inlined, the plan re-expands the whole
        # upstream chain 2^k times and never finishes at k=10.
        steps.append(
            f""",
pr{i} AS MATERIALIZED (
    SELECT nd.node,
           (1 - {damping}) / (SELECT n FROM nn)
           + {damping} * (
                COALESCE(c.contrib, 0)
                + (SELECT COALESCE(SUM(p.r), 0) FROM pr{i - 1} p
                   WHERE p.node NOT IN (SELECT src FROM edges))
                  / (SELECT n FROM nn)
           ) AS r
    FROM nodes nd
    LEFT JOIN (
        -- op order matches the operator: frac = w/tw first, then
        -- r*frac — same IEEE rounding path, less drift for ROUND(,6)
        SELECT e.dst, SUM(p.r * (e.w / o.tw)) AS contrib
        FROM pr{i - 1} p
        JOIN edges e ON p.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst
    ) c ON c.dst = nd.node
)"""
        )
    tail = f"""
SELECT node AS event_type, ROUND(r, 6) AS rank
FROM pr{iters}
ORDER BY rank DESC, event_type
"""
    return head + "".join(steps) + tail


ORACLE_PAGERANK_EVENTS = _pagerank_oracle(_ITERS, _DAMPING)


# ---------------------------------------------------------------------------
# Multi-source BFS over the near-dup graph (contamination blast radius)
# ---------------------------------------------------------------------------

# seed gate sized to the synthetic corpus: doc_id % 7 puts ~8 seeds
# INSIDE the near-dup pair graph at sf0.01 (hop distribution {0: 72,
# 1: 9} — real frontier expansion; % 97 reached nothing and the gate
# was vacuously seeds-only). Deeper hops are pinned on a constructed
# chain graph in tests/test_round4_ops.py.
_BFS_SEED_MOD = 7
_BFS_MAX_HOPS = 4


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance from a seed document set through the exact
    near-dup pair graph (3-gram Jaccard ≥ 0.5) — the "blast radius"
    audit: if the seeds are known-contaminated documents, everything
    within k hops of near-duplication inherits suspicion. Seeds are
    ``doc_id % 7 == 0``; fixed 4-round frontier expansion
    (:func:`operators.graph.bfs_hops`); the oracle unrolls the rounds
    as MATERIALIZED min-hop CTEs over the exact pair list.

    Pair source is the MinHash-LSH SCALE path (banding + exact-Jaccard
    verify): banding recall at threshold 0.5 is pytest-pinned at 1.0,
    so its pair set EQUALS the exact inverted-index join the oracle
    recomputes — the whole pipeline (candidates → verify → graph →
    BFS) is gated while pair generation costs candidates-only (the
    exact join's Σdf² blow-up at sf0.1 measured 30+ s; this runs in
    ~the minhash_dedup budget)."""
    from data_quality_checks_in_relational_database_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from data_quality_checks_in_relational_database_spark.operators.graph import bfs_hops

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    seeds = docs.where(F.col("doc_id") % _BFS_SEED_MOD == 0).select(
        F.col("doc_id").alias("node")
    )
    out = bfs_hops(pairs, seeds, max_hops=_BFS_MAX_HOPS, src="doc_id_a", dst="doc_id_b")
    return out.select(F.col("node").alias("doc_id"), "hops")


def _bfs_oracle(seed_mod: int, max_hops: int) -> str:
    head = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents WHERE length(trim(text)) > 0
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
    FROM toks WHERE len(t) >= 3
),
pairs AS (
    SELECT doc_id_a, doc_id_b FROM (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               len(list_intersect(a.s, b.s))
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
),
sym AS MATERIALIZED (
    SELECT doc_id_a AS s, doc_id_b AS t FROM pairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM pairs
),
d0 AS MATERIALIZED (
    SELECT doc_id AS node, 0 AS hops FROM documents WHERE doc_id % {seed_mod} = 0
)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(
            f""",
d{i} AS MATERIALIZED (
    SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM d{i - 1}
        UNION ALL
        SELECT sym.t AS node, {i} AS hops
        FROM d{i - 1} JOIN sym ON sym.s = d{i - 1}.node
    ) GROUP BY node
)"""
        )
    tail = f"""
SELECT node AS doc_id, CAST(hops AS BIGINT) AS hops FROM d{max_hops}
"""
    return head + "".join(steps) + tail


ORACLE_BFS_HOPS = _bfs_oracle(_BFS_SEED_MOD, _BFS_MAX_HOPS)


# ---------------------------------------------------------------------------
# k-core of the near-dup graph (dense boilerplate families)
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4


def q_kcore_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the near-dup pair graph after 4 peeling rounds — the
    mutually-dense template/boilerplate families (isolated dup PAIRS
    peel away; only cyclically-connected groups survive). Pair source
    is the MinHash scale path (recall 1.0 at the threshold pinned in
    pytest ⇒ pair set equals the exact join the oracle recomputes);
    the oracle unrolls each peel round as MATERIALIZED degree/keep
    CTEs. See :func:`operators.graph.kcore_peel`."""
    from data_quality_checks_in_relational_database_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from data_quality_checks_in_relational_database_spark.operators.graph import kcore_peel

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    out = kcore_peel(
        pairs, k=_KCORE_K, rounds=_KCORE_ROUNDS, src="doc_id_a", dst="doc_id_b"
    )
    return out.select(F.col("node").alias("doc_id"), "core_degree", "in_kcore")


def _kcore_oracle(k: int, rounds: int) -> str:
    head = """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents WHERE length(trim(text)) > 0
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
    FROM toks WHERE len(t) >= 3
),
pairs AS (
    SELECT doc_id_a, doc_id_b FROM (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               len(list_intersect(a.s, b.s))
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
),
e0 AS MATERIALIZED (
    SELECT doc_id_a AS s, doc_id_b AS t FROM pairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM pairs
)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(
            f""",
keep{i} AS MATERIALIZED (
    SELECT s FROM e{i - 1} GROUP BY s HAVING COUNT(*) >= {k}
),
e{i} AS MATERIALIZED (
    SELECT e.s, e.t FROM e{i - 1} e
    JOIN keep{i} ka ON e.s = ka.s
    JOIN keep{i} kb ON e.t = kb.s
)"""
        )
    tail = f""",
fdeg AS (SELECT s, COUNT(*) AS fd FROM e{rounds} GROUP BY s),
all_nodes AS (SELECT DISTINCT s AS node FROM e0)
SELECT n.node AS doc_id,
       CAST(COALESCE(f.fd, 0) AS BIGINT) AS core_degree,
       COALESCE(f.fd, 0) >= {k} AS in_kcore
FROM all_nodes n LEFT JOIN fdeg f ON f.s = n.node
"""
    return head + "".join(steps) + tail


ORACLE_KCORE_BOILERPLATE = _kcore_oracle(_KCORE_K, _KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# Personalized PageRank: conversion-adjacency of funnel states (r5)
# ---------------------------------------------------------------------------

_PPR_SEEDS = ("purchase", "signup")
_PPR_ITERS = 10
_PPR_DAMPING = 0.85


def q_ppr_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the event-transition graph, teleport
    confined to the CONVERSION states (``purchase``/``signup``): rank
    mass measures each state's downstream adjacency to a conversion —
    the seeded-influence score plain PageRank's uniform prior washes
    out (the training-data twin: PPR from known-contaminated documents
    through the near-dup graph — same kernel, pinned on a constructed
    graph in tests). Seeds are defined as the literal types PRESENT in
    the data so both engines derive |S| from the same frame; fixed 10
    iterations; see :func:`operators.graph.personalized_pagerank`."""
    from data_quality_checks_in_relational_database_spark.operators.graph import (
        personalized_pagerank,
    )
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
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
    seeds = (
        ev.select(F.col("event_type").alias("node"))
        .where(F.col("event_type").isin(*_PPR_SEEDS))
        .distinct()
    )
    out = personalized_pagerank(
        arcs, seeds, weight_col="w", iters=_PPR_ITERS, damping=_PPR_DAMPING
    )
    return out.select(F.col("node").alias("event_type"), "rank").orderBy(
        F.col("rank").desc(), F.col("event_type")
    )


def _ppr_oracle(seed_sql_list: str, iters: int, damping: float) -> str:
    head = f"""
WITH e0 AS (
    SELECT user_id AS u, event_type AS s, epoch_us(ts) AS t, event_id AS rid
    FROM events
),
tr AS (
    SELECT s AS src, LEAD(s) OVER (PARTITION BY u ORDER BY t, rid) AS dst FROM e0
),
edges AS (
    SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
    FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
),
seeds AS (
    SELECT DISTINCT event_type AS node FROM events
    WHERE event_type IN ({seed_sql_list})
),
nodes AS (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
    UNION SELECT node FROM seeds
),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
tele AS (
    SELECT nd.node,
           CASE WHEN sd.node IS NOT NULL THEN 1.0 / (SELECT n FROM ns)
                ELSE 0.0 END AS tv
    FROM nodes nd LEFT JOIN seeds sd ON sd.node = nd.node
),
outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
pr0 AS MATERIALIZED (SELECT node, tv AS r FROM tele)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f""",
pr{i} AS MATERIALIZED (
    SELECT te.node,
           (1 - {damping}) * te.tv
           + {damping} * (
                COALESCE(c.contrib, 0)
                + (SELECT COALESCE(SUM(p.r), 0) FROM pr{i - 1} p
                   WHERE p.node NOT IN (SELECT src FROM edges))
                  * te.tv
           ) AS r
    FROM tele te
    LEFT JOIN (
        -- op order matches the operator: frac = w/tw first, then
        -- r*frac — same IEEE rounding path, less drift for ROUND(,6)
        SELECT e.dst, SUM(p.r * (e.w / o.tw)) AS contrib
        FROM pr{i - 1} p
        JOIN edges e ON p.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst
    ) c ON c.dst = te.node
)"""
        )
    tail = f"""
SELECT node AS event_type, ROUND(r, 6) AS rank
FROM pr{iters}
ORDER BY rank DESC, event_type
"""
    return head + "".join(steps) + tail


ORACLE_PPR_INFLUENCE = _ppr_oracle(
    ", ".join(f"'{s}'" for s in _PPR_SEEDS), _PPR_ITERS, _PPR_DAMPING
)


# ---------------------------------------------------------------------------
# Modularity of the LP community partition (r5)
# ---------------------------------------------------------------------------

_MOD_LP_ROUNDS = 4


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity decomposition of the 4-round LP community
    partition over the verified near-dup pair graph — the QUALITY
    readout for the community pass consumed by ``lp_communities``:
    per-community ``L_c/m − (d_c/(2m))²`` terms, near-zero/negative
    terms flagging label groups no denser than chance (over-merged or
    oscillating labels) BEFORE any collapse decision. Pair source is
    the MinHash scale path (recall-1.0 banding pinned ⇒ pair set
    equals the exact join the oracle recomputes); all sufficient
    statistics are exact integers, one division + one squared ratio
    per output row. See :func:`operators.graph.modularity_terms`; the
    oracle replays the LP chain (``curation_queries.lp_chain_sql``)
    and the same integer arithmetic."""
    from data_quality_checks_in_relational_database_spark.operators import dedup as dd
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        label_propagation,
    )
    from data_quality_checks_in_relational_database_spark.operators.graph import (
        modularity_terms,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.5)
    lp = label_propagation(pairs, rounds=_MOD_LP_ROUNDS)
    return modularity_terms(pairs, lp)


def _modularity_oracle(rounds: int) -> str:
    from data_quality_checks_in_relational_database_spark.plans.curation_queries import (
        lp_chain_sql,
    )

    return (
        lp_chain_sql(rounds)
        + f""",
e AS MATERIALIZED (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs),
m AS (SELECT COUNT(*) AS m FROM e),
lab AS (SELECT node, label FROM l{rounds}),
deg AS (
    SELECT n, COUNT(*) AS deg FROM (
        SELECT a AS n FROM e UNION ALL SELECT b FROM e
    ) GROUP BY n
),
pc AS (
    SELECT l.label AS community, COUNT(*) AS n_nodes, SUM(d.deg) AS degree_sum
    FROM deg d JOIN lab l ON l.node = d.n GROUP BY l.label
),
ie AS (
    SELECT la.label AS community, COUNT(*) AS intra_edges
    FROM e JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
    WHERE la.label = lb.label GROUP BY la.label
)
SELECT CAST(pc.community AS BIGINT) AS community,
       CAST(pc.n_nodes AS BIGINT) AS n_nodes,
       CAST(COALESCE(ie.intra_edges, 0) AS BIGINT) AS intra_edges,
       CAST(pc.degree_sum AS BIGINT) AS degree_sum,
       ROUND(
           CAST(COALESCE(ie.intra_edges, 0) AS DOUBLE) / m.m
           - (CAST(pc.degree_sum AS DOUBLE) / (2 * m.m))
             * (CAST(pc.degree_sum AS DOUBLE) / (2 * m.m)),
           6
       ) AS modularity_term
FROM pc CROSS JOIN m LEFT JOIN ie ON ie.community = pc.community
"""
    )


ORACLE_GRAPH_MODULARITY = _modularity_oracle(_MOD_LP_ROUNDS)


# ---------------------------------------------------------------------------
# Degree assortativity of the near-dup graph (r5)
# ---------------------------------------------------------------------------


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the verified near-dup pair graph:
    clique-shaped duplication (templates, r > 0) vs hub-and-spoke
    quotation (one canonical doc cited by many one-offs, r < 0) — the
    two regimes need different collapse policies. Exact BIGINT
    sufficient statistics over the symmetric edge list, one closed-form
    double; see :func:`operators.graph.degree_assortativity`."""
    from data_quality_checks_in_relational_database_spark.operators import dedup as dd
    from data_quality_checks_in_relational_database_spark.operators.graph import (
        degree_assortativity,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.5)
    return degree_assortativity(pairs)


def _assortativity_oracle() -> str:
    from data_quality_checks_in_relational_database_spark.plans.extension_queries import (
        ORACLE_NGRAM_JACCARD,
    )

    return f"""
WITH pairs AS MATERIALIZED ({ORACLE_NGRAM_JACCARD}),
e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs),
deg AS (
    SELECT n, COUNT(*) AS deg FROM (
        SELECT a AS n FROM e UNION ALL SELECT b FROM e
    ) GROUP BY n
),
sym AS (
    SELECT a AS s, b AS t FROM e UNION ALL SELECT b, a FROM e
),
st AS (
    SELECT COUNT(*) AS mm, SUM(ds.deg) AS sx,
           SUM(ds.deg * ds.deg) AS sxx, SUM(ds.deg * dt.deg) AS sxy
    FROM sym JOIN deg ds ON ds.n = sym.s JOIN deg dt ON dt.n = sym.t
),
nn AS (SELECT COUNT(*) AS n_nodes FROM deg)
SELECT CAST(nn.n_nodes AS BIGINT) AS n_nodes,
       CAST(st.mm // 2 AS BIGINT) AS n_edges,
       CASE WHEN st.mm * st.sxx - st.sx * st.sx > 0 THEN
           ROUND(
               CAST(st.mm * st.sxy - st.sx * st.sx AS DOUBLE)
               / CAST(st.mm * st.sxx - st.sx * st.sx AS DOUBLE),
               6
           ) + 0.0
       END AS assortativity
FROM st CROSS JOIN nn
"""


ORACLE_DEGREE_ASSORTATIVITY = _assortativity_oracle()


# ---------------------------------------------------------------------------
# HITS hubs/authorities over the event-transition graph (r5)
# ---------------------------------------------------------------------------

_HITS_ITERS = 10


def q_hits_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the weighted event-transition graph: hub
    score = "states whose outflows feed important states", authority
    score = "states important flows land on" — the two-sided ranking
    one PageRank score conflates (an 'error' state can be a high
    authority while being a worthless hub). Fixed 10 iterations with
    L1 normalization per half-step; the oracle unrolls both half-steps
    per round. See :func:`operators.graph.hits_scores`."""
    from data_quality_checks_in_relational_database_spark.operators.graph import (
        hits_scores,
    )
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
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
    out = hits_scores(arcs, weight_col="w", iters=_HITS_ITERS)
    return out.select(
        F.col("node").alias("event_type"), "hub", "authority"
    ).orderBy(F.col("authority").desc(), F.col("event_type"))


def _hits_oracle(iters: int) -> str:
    head = """
WITH e0 AS (
    SELECT user_id AS u, event_type AS s, epoch_us(ts) AS t, event_id AS rid
    FROM events
),
tr AS (
    SELECT s AS src, LEAD(s) OVER (PARTITION BY u ORDER BY t, rid) AS dst FROM e0
),
edges AS (
    SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
    FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
h0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS s FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f""",
ar{i} AS MATERIALIZED (
    SELECT nd.node, COALESCE(m.m, 0) AS raw
    FROM nodes nd LEFT JOIN (
        SELECT e.dst, SUM(h.s * e.w) AS m
        FROM h{i - 1} h JOIN edges e ON e.src = h.node
        GROUP BY e.dst
    ) m ON m.dst = nd.node
),
a{i} AS MATERIALIZED (
    SELECT node, CASE WHEN (SELECT SUM(raw) FROM ar{i}) > 0
                      THEN raw / (SELECT SUM(raw) FROM ar{i}) ELSE 0.0 END AS s
    FROM ar{i}
),
hr{i} AS MATERIALIZED (
    SELECT nd.node, COALESCE(m.m, 0) AS raw
    FROM nodes nd LEFT JOIN (
        SELECT e.src, SUM(a.s * e.w) AS m
        FROM a{i} a JOIN edges e ON e.dst = a.node
        GROUP BY e.src
    ) m ON m.src = nd.node
),
h{i} AS MATERIALIZED (
    SELECT node, CASE WHEN (SELECT SUM(raw) FROM hr{i}) > 0
                      THEN raw / (SELECT SUM(raw) FROM hr{i}) ELSE 0.0 END AS s
    FROM hr{i}
)"""
        )
    tail = f"""
SELECT h.node AS event_type, ROUND(h.s, 6) AS hub, ROUND(a.s, 6) AS authority
FROM h{iters} h JOIN a{iters} a ON a.node = h.node
ORDER BY authority DESC, event_type
"""
    return head + "".join(steps) + tail


ORACLE_HITS_EVENTS = _hits_oracle(_HITS_ITERS)
