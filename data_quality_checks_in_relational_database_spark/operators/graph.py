"""Iterative graph ranking and structure passes over edge lists.

:func:`pagerank` is :func:`personalized_pagerank` with every node a
seed: both run one rank loop, :func:`_rank_replay` on the driver or
:func:`_rank_loop` distributed, and pass in only their teleport term
and dangling share. :func:`hits_scores` reads the same arc list
(:func:`_arcs`).

One skeleton serves every iterative operator here and in
:mod:`.cluster`: the call runs inside one ``session.CheckpointScope``;
:func:`_switch` pins the edge list, fills it with one eager count and,
at or under ``driver_threshold``, collects it for a driver path whose
result :func:`_result` types like the input ids; the distributed path
checkpoints its rounds through the scope and returns
``scope.keep(result)``. The scope's exit is the one place that frees
pins and checkpoints — on return (all but the kept result) and on a
raise (everything).

No counterpart in the reference (two single-table pandas/MySQL check
scripts, `/root/reference/data_consistency_checks.py:43-77`,
`pre_and_post_etl_checks.py:45-110` — no graph structure anywhere);
this is a training-data-pipeline extension: page/domain authority is a
standard corpus-quality prior (harvested link graphs rank sources
before sampling), and the same kernel ranks states in the event
transition graph.

Scale design (the 100 TB contract is a web-scale link graph):

- The edge list is aggregated to one ``(src, dst, weight)`` row per
  arc, normalized by out-weight ONCE, repartitioned by ``src`` and
  persisted — a cached frame keeps its ``HashPartitioning(src)``
  output partitioning, so every iteration's join exchanges ONLY the
  (node, rank) side (tiny relative to edges). Edges never re-shuffle
  after the initial placement.
- Each iteration is one hash join + one keyed aggregation — no
  windows, no driver-side structures; rank rows shuffle as
  ``(node, double)`` pairs.
- The dangling-node mass (rank parked on nodes with no out-edges) is
  a single global scalar per iteration; it rides a 1-row aggregate
  cross-joined back via ``broadcast`` — never a per-node collect.
- Lineage is truncated every round with ``localCheckpoint`` (lazy,
  materialized by the rank-sum probe job) exactly as in
  :mod:`..operators.cluster` — a depth-k iterated join plan
  otherwise blows up Catalyst analysis super-linearly. Checkpoint
  blocks are freed by the scope's exit once the result is kept.
- Iteration count is FIXED (default 10), not convergence-tested:
  deterministic output for the differential oracle, bounded job
  count at any scale. The rank-sum probe doubles as a sanity
  invariant (total mass stays 1 ± fp-noise).
- ``node`` takes the type of the input id columns on every path
  (driver replay, distributed loop, empty result).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.session import CheckpointScope

#: The rank/HITS mass probe runs every PROBE_EVERY rounds and after the
#: final round (see :func:`_rank_loop`).
PROBE_EVERY = 5


def _arcs(edges: DataFrame, src: str, dst: str, weight_col: str | None) -> DataFrame:
    """One ``(src, dst, w)`` row per arc: null endpoints dropped,
    multi-edges collapsed by summing their weights (an absent
    ``weight_col`` counts every edge 1)."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )


def _nodes(arcs: DataFrame) -> DataFrame:
    """Distinct ``node`` over both arc endpoints, typed like the id
    columns (their common type, as a union widens it)."""
    return (
        arcs.select(F.col("src").alias("node"))
        .unionByName(arcs.select(F.col("dst").alias("node")))
        .distinct()
    )


def _result(spark: SparkSession, nodes: DataFrame, cols: str, rows=()) -> DataFrame:
    """A driver-built (or empty) result whose ``node`` has the type the
    distributed loop would give it: that of ``nodes`` (analysis only,
    no job). ``{id}`` in ``cols`` stands for that type too."""
    t = nodes.schema["node"].dataType.simpleString()
    return spark.createDataFrame(list(rows), schema=f"node {t}, " + cols.format(id=t))


def _switch(
    scope: CheckpointScope, edges: DataFrame, driver_threshold: int
) -> tuple[DataFrame, list | None]:
    """The size switch of every iterative operator: pin ``edges``, fill
    the pin with ONE eager count (the rounds must reuse it, not rebuild
    the upstream lineage), and at or under ``driver_threshold`` rows
    collect them for the driver path. The edge list is the output of a
    dedup funnel or an aggregation, orders of magnitude smaller than
    its input; the driver path skips the distributed loop's per-round
    scheduler+shuffle floor (~0.2-0.6 s × rounds even for a 10-node
    graph) with identical output. Returns ``(pinned edges, rows)``,
    ``rows`` None above the threshold."""
    edges = scope.pin(edges)
    n = edges.count()
    return edges, (edges.collect() if n <= max(driver_threshold, 0) else None)


def _normalized(edges: DataFrame, src: str, dst: str, weight_col: str | None) -> DataFrame:
    """The arc list with each arc's transition probability ``frac``
    (normalized once, so the per-round join needs no third table),
    placed by ``src``."""
    arcs = _arcs(edges, src, dst, weight_col)
    outw = arcs.groupBy("src").agg(F.sum("w").alias("tw"))
    return (
        arcs.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("tw")).alias("frac"))
        .repartition("src")
    )


def _rank_replay(norm_rows, nodes, r, teleport, dang_share, iters, damping, prec):
    """Small-graph fast path: the rank recurrence
    ``r[v] ← teleport(v) + d·(contrib[v] + dang_share(dang, v))`` over
    the collected normalized arc list, from the start vector ``r`` over
    the sorted ``nodes``. The arc list is already bounded by
    ``driver_threshold``; both the node order AND the arc iteration
    order are sorted, so every float accumulation runs in the same
    order run-to-run regardless of how ``collect()`` happened to order
    the partitions. Returns ``(node, rank)`` rows."""
    arcs = sorted(norm_rows, key=lambda a: (a.src, a.dst))
    srcs = {a.src for a in arcs}
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if v not in srcs)
        contrib = {v: 0.0 for v in nodes}
        for a in arcs:
            contrib[a.dst] += r[a.src] * a.frac
        r = {v: teleport(v) + damping * (contrib[v] + dang_share(dang, v)) for v in nodes}
    return [(v, round(r[v], prec) + 0.0) for v in nodes]


def _rank_loop(
    scope: CheckpointScope,
    norm: DataFrame,
    nodes: DataFrame,
    r0: Column,
    teleport: Column,
    dang_share: Column,
    iters: int,
    damping: float,
    prec: int,
) -> DataFrame:
    """The distributed rank recurrence
    ``r ← teleport + d·(Pᵀr + dang_share)`` over the pinned normalized
    arcs ``norm`` and the pinned ``nodes`` frame, from the start ranks
    ``r0``. ``r0``, ``teleport`` and ``dang_share`` are columns over
    ``nodes``; ``dang_share`` also reads the round's dangling mass
    ``dang``. Returns the kept ``(node, rank)``."""
    srcs = scope.pin(norm.select("src").distinct())
    ranks = scope.checkpoint(nodes.select("node", r0.alias("r")))
    for it in range(iters):
        # global dangling mass: 1-row aggregate, broadcast back onto
        # every node row (never a driver collect in the loop)
        dang = ranks.join(srcs, ranks["node"] == srcs["src"], "left_anti").agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang")
        )
        contribs = (
            norm.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("frac")).alias("contrib"))
        )
        ranks = scope.checkpoint(
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dang_share)
                ).alias("r"),
            )
        )
        # Batched invariant probe (every PROBE_EVERY rounds + the final
        # round, instead of every round): the probe is a pure tripwire
        # — the recurrence conserves mass analytically, the loop is a
        # FIXED round count, and the rounds in between still truncate
        # lineage per round (each lazy localCheckpoint becomes a
        # LogicalRDD at call time) and still run their shuffle stages
        # exactly once (all references share one RDD whose blocks are
        # saved on first compute, inside the next probe's job). What a
        # skipped probe saves is one scheduled job + one full pass over
        # the node-sized rank frame + a driver collect barrier PER
        # ROUND — at web-graph scale, a cluster-wide sync for a scalar
        # the probed round re-checks anyway. Drift introduced in an
        # unprobed round is caught at the next probe ≤ PROBE_EVERY
        # rounds later; healthy runs return bit-identical output.
        if (it + 1) % PROBE_EVERY == 0 or it == iters - 1:
            total = ranks.agg(F.sum("r")).collect()[0][0]
            # ValueError, not assert: must hold under -O too
            if abs(total - 1.0) >= 1e-6:
                raise ValueError(f"rank mass drifted: {total}")
    return scope.keep(ranks.select("node", F.round(F.col("r"), prec).alias("rank")))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iters: int = 10,
    damping: float = 0.85,
    prec: int = 6,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Weighted PageRank over an edge list; returns ``(node, rank)``
    with ``rank`` rounded to ``prec`` decimals (both engines of the
    differential gate sum doubles in different orders; the analytic
    values agree to ~1e-15, so a fixed rounding makes the comparison
    exact). Multi-edges are collapsed by summing their weights; an
    absent ``weight_col`` means every edge counts 1. Each round is
    ``r ← (1-d)/n + d·(Pᵀr + dang/n)``.

    Size-adaptive through :func:`_switch` over the aggregated arc
    list: at or under ``driver_threshold`` arcs the fixed-iteration
    recurrence runs as a driver-side loop; above it the distributed
    loop is the 100 TB web-graph contract.
    """
    spark = edges.sparkSession
    with CheckpointScope(spark) as scope:
        norm, rows = _switch(scope, _normalized(edges, src, dst, weight_col), driver_threshold)
        nodes = _nodes(norm)
        if rows is not None:
            ids = sorted({a.src for a in rows} | {a.dst for a in rows})
            n = len(ids)
            out = _rank_replay(
                rows, ids, {v: 1.0 / n for v in ids}, lambda v: (1.0 - damping) / n,
                lambda dang, v: dang / n, iters, damping, prec,
            )
            return _result(spark, nodes, "rank double", out)
        nodes = scope.pin(nodes)
        n = nodes.count()  # bounded scalar: graph order, not data volume
        return _rank_loop(
            scope, norm, nodes, F.lit(1.0 / n), F.lit((1.0 - damping) / n),
            F.col("dang") / F.lit(float(n)), iters, damping, prec,
        )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    seed_col: str = "node",
    iters: int = 10,
    damping: float = 0.85,
    prec: int = 6,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Personalized (seeded) PageRank: the teleport vector is uniform
    over ``seeds`` instead of over all nodes, so rank mass measures
    proximity/influence RELATIVE to the seed set — the standard
    "blast radius with decay" score (contamination influence from
    known-bad documents, conversion-adjacency of funnel states) that
    plain PageRank's global prior washes out. Dangling mass returns to
    the SEEDS (r_{t+1} = (1-d)·e_S + d·(Pᵀr + dang·e_S)), keeping
    total mass exactly 1 — the invariant probe asserts it.

    Same size-adaptive strategy, driver replay and distributed loop as
    :func:`pagerank`; only the teleport term and the dangling share
    differ. Seeds absent from the edge list still hold teleport mass
    (they are unioned into the node set).
    """
    spark = edges.sparkSession
    seed_frame = seeds.select(F.col(seed_col).alias("node")).distinct()
    with CheckpointScope(spark) as scope:
        norm, rows = _switch(scope, _normalized(edges, src, dst, weight_col), driver_threshold)
        all_nodes = _nodes(norm).unionByName(seed_frame).distinct()
        if rows is not None:
            # seed sets are release gates / query inputs — bounded by
            # contract, so the collect here is a driver-path
            # prerequisite, not a data-sized pull (the distributed loop
            # below never collects seeds)
            seed_set = {r.node for r in seed_frame.collect()}
            if not seed_set:
                return _result(spark, all_nodes, "rank double")
            ids = sorted({a.src for a in rows} | {a.dst for a in rows} | seed_set)
            tele = {v: (1.0 / len(seed_set) if v in seed_set else 0.0) for v in ids}
            out = _rank_replay(
                rows, ids, tele, lambda v: (1.0 - damping) * tele[v],
                lambda dang, v: dang * tele[v], iters, damping, prec,
            )
            return _result(spark, all_nodes, "rank double", out)
        n_seeds = seed_frame.count()
        if n_seeds == 0:
            return _result(spark, all_nodes, "rank double")
        # teleport vector: one row per node, 1/|S| on seeds, 0 elsewhere
        nodes = scope.pin(
            all_nodes.join(seed_frame.withColumn("is_seed", F.lit(True)), "node", "left")
            .select(
                "node",
                F.when(F.col("is_seed"), F.lit(1.0 / n_seeds))
                .otherwise(F.lit(0.0))
                .alias("tele"),
            )
        )
        nodes.count()
        return _rank_loop(
            scope, norm, nodes, F.col("tele"), F.lit(1.0 - damping) * F.col("tele"),
            F.col("dang") * F.col("tele"), iters, damping, prec,
        )


def _undirected(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """The undirected edge list: one ``(a, b)`` row per edge with
    ``a < b``, self-loops dropped, duplicates collapsed."""
    return (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """``(n, deg)``: each node's degree in the undirected list ``e``."""
    return (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def modularity_terms(
    pairs: DataFrame,
    labels: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    node_col: str = "node",
    label_col: str = "label",
    prec: int = 6,
) -> DataFrame:
    """Newman modularity decomposition of a community partition over an
    undirected edge list: per community c,
    ``term_c = L_c/m − (d_c/(2m))²`` where ``L_c`` is the intra-community
    edge count, ``d_c`` the degree mass, ``m`` the total edge count —
    Q = Σ_c term_c. The quality readout for a dedup/community pass:
    near-zero or negative terms flag label groups that are NOT denser
    than chance (over-merged components, oscillating LP labels) before
    anything is collapsed.

    All sufficient statistics are exact integers (edge counts, degree
    sums); each output row does one ``L_c/m`` division and one squared
    ratio — deterministic under any partitioning. Plan: two broadcast-
    sized label joins onto the (bounded, verified) pair list + keyed
    integer aggregations; nothing corpus-sized shuffles. Nodes missing
    from ``labels`` keep their own id as a singleton label (same
    convention as the LP/components reports).

    Output: one row per community that owns ≥1 graph node —
    ``(community, n_nodes, intra_edges, degree_sum, modularity_term)``.
    """
    # The output schema declares ``community long``; with string node
    # ids the singleton fallback ``coalesce(label, node)`` would produce
    # strings whose long-cast is NULL, silently collapsing every
    # unlabeled community into one NULL row. Validate up front instead
    # (the sibling pair operators that DO support string ids keep the
    # id's own type end-to-end; this one is contract-typed to long).
    _integral = ("tinyint", "smallint", "int", "bigint", "long")
    for frame, col, what in (
        (pairs, id_a, "pair id"),
        (pairs, id_b, "pair id"),
        (labels, node_col, "label node id"),
        (labels, label_col, "community label"),
    ):
        t = frame.schema[col].dataType.simpleString()
        if t not in _integral:
            raise ValueError(
                f"modularity_terms needs integral ids/labels; {what} "
                f"column {col!r} is {t}"
            )
    e = _undirected(pairs, id_a, id_b).localCheckpoint()  # referenced 3x; bounded survivor set
    lab = labels.select(
        F.col(node_col).alias("n"), F.col(label_col).alias("c")
    )
    la = lab.select(F.col("n").alias("a"), F.col("c").alias("ca"))
    lb = lab.select(F.col("n").alias("b"), F.col("c").alias("cb"))
    tagged = (
        e.join(la, "a", "left")
        .join(lb, "b", "left")
        .select(
            F.coalesce("ca", F.col("a")).alias("ca"),
            F.coalesce("cb", F.col("b")).alias("cb"),
        )
    )
    m = e.count()  # bounded scalar: graph size, not corpus size
    if m == 0:
        return pairs.sparkSession.createDataFrame(
            [],
            schema="community long, n_nodes long, intra_edges long, "
            "degree_sum long, modularity_term double",
        )
    intra = (
        tagged.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    per_comm = (
        _degrees(e)
        .join(lab, "n", "left")
        .select(F.coalesce("c", F.col("n")).alias("community"), "deg")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").alias("degree_sum"),
        )
    )
    term = (
        F.coalesce("intra_edges", F.lit(0)).cast("double") / F.lit(float(m))
        - (F.col("degree_sum").cast("double") / F.lit(2.0 * m))
        * (F.col("degree_sum").cast("double") / F.lit(2.0 * m))
    )
    return (
        per_comm.join(intra, "community", "left")
        .select(
            F.col("community").cast("long").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            F.round(term, prec).alias("modularity_term"),
        )
    )


def degree_assortativity(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    prec: int = 6,
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the symmetric edge list. For a
    near-dup graph it separates clique-shaped duplication (templates:
    high-degree nodes attach to high-degree nodes, r > 0) from hub-and-
    spoke contamination (one canonical page quoted by many one-off
    docs, r < 0) — two regimes that need different collapse policies.

    Sufficient statistics are exact BIGINT sums over the symmetric
    list (Σx, Σx², Σxy with integer degrees); the coefficient is one
    closed-form double expression — deterministic under any
    partitioning. Output: a single row
    ``(n_nodes, n_edges, assortativity)``; NULL coefficient when the
    degree variance is zero (regular graph).
    """
    # lazy (r8): the distinct's shuffle output serves all four plan
    # references (degree union ×2, sym union ×2) inside one action;
    # no blocking pre-job. See bfs_hops.
    e = _undirected(pairs, id_a, id_b).localCheckpoint(eager=False)
    deg = _degrees(e)
    sym = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    ds = deg.select(F.col("n").alias("s"), F.col("deg").alias("x"))
    dt = deg.select(F.col("n").alias("t"), F.col("deg").alias("y"))
    stats = (
        sym.join(ds, "s")
        .join(dt, "t")
        .agg(
            F.count(F.lit(1)).alias("mm"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    n_nodes = deg.select(F.count(F.lit(1)).alias("n_nodes"))
    num = F.col("mm") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("mm") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        stats.crossJoin(F.broadcast(n_nodes))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            (F.col("mm") / 2).cast("long").alias("n_edges"),
            F.when(
                den > 0,
                F.round(num.cast("double") / den.cast("double"), prec) + 0.0,
            ).alias("assortativity"),
        )
    )


def triangle_counts(
    pairs: DataFrame, id_a: str = "src", id_b: str = "dst", prec: int = 6
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list — the clique-ness diagnostic for a near-dup
    pair graph: coefficients near 1 mean the candidate clusters are
    tight cliques (safe to collapse to one representative); low
    coefficients flag chain-shaped components where transitive merging
    over-removes.

    Standard distributed shape: edges canonicalized to (lo, hi) and
    deduplicated, then triangles enumerated by the two-join wedge
    closure — e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with a < b < c, so each
    triangle is produced exactly once. Joins are equi-joins on node
    ids; the edge list is the dedup funnel's bounded survivor set.

    Output: (node, degree, triangles, clustering_coeff) for every node
    in the edge list; coeff = 2T / (d(d-1)), NULL when degree < 2.
    """
    e = _undirected(pairs, id_a, id_b).localCheckpoint()  # referenced 5x below
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select("a", F.col("b").alias("c"))
    tri = e.join(e2, "b").join(e3, ["a", "c"])  # one row per triangle a<b<c
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = _degrees(e).select(F.col("n").alias("node"), F.col("deg").alias("degree"))
    return deg.join(per_node, "node", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                prec,
            )
            + F.lit(0.0),
        ).alias("clustering_coeff"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed node,
    bounded at ``max_hops``. Returns ``(node, hops)`` for every node
    reached (seeds at 0); unreached nodes are absent.

    Fixed-round frontier expansion — the round count is a literal, so
    no convergence probe is needed (unlike the PageRank/components
    loops): each round joins the CURRENT frontier to the symmetric
    edge list and anti-joins nodes already assigned a (necessarily
    smaller) distance. Shuffles carry (node, hops) pairs and the edge
    list only; per-round cost is |frontier-adjacent edges|, the
    textbook distributed BFS bound.

    Lineage discipline (same reasoning as ``cluster.
    connected_components``): the edge list is ``localCheckpoint``ed
    ONCE so an expensive upstream pair-generation plan executes once,
    not once per round (measured 19 s → ~4 s at sf0.1 over MinHash
    pairs); each round's frontier is checkpointed too, because round h
    references round h-1 TWICE (anti-join + union) — left lazy, the
    frontier plan re-expands 2^h times.

    The checkpoints are LAZY (r8, guide §2.4 "remove shuffles/barriers
    outright"): ``localCheckpoint(eager=False)`` truncates the LOGICAL
    plan immediately (so the 2^h re-expansion still cannot happen — all
    references share one RDD), but stops forcing a blocking job per
    round; the whole expansion runs as one scheduled action whose
    stages reuse each round's shuffle output. Every checkpointed frame
    here sits directly above a shuffle (distinct / the verified pair
    join), so a second stage reading the same RDD re-reads shuffle
    files, never recomputes the upstream plan. Measured at sf0.1 over
    MinHash pairs: 4.3 s → 3.1 s median, identical rows. The result is
    kept (checkpointed eagerly) so the round checkpoints are freed
    before the call returns.
    """
    with CheckpointScope(edges.sparkSession) as scope:
        sym = scope.checkpoint(
            edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
            .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("t")))
        )
        dist = scope.checkpoint(
            seeds.select(F.col(node_col).alias("node"))
            .distinct()
            .select("node", F.lit(0).alias("hops"))
        )
        frontier = dist
        for h in range(1, int(max_hops) + 1):
            nxt = scope.checkpoint(
                frontier.join(sym, frontier["node"] == sym["s"])
                .select(F.col("t").alias("node"))
                .distinct()
                .join(dist, "node", "left_anti")
                .select("node", F.lit(h).alias("hops"))
            )
            dist = dist.unionByName(nxt)
            frontier = nxt
        return scope.keep(dist.select("node", F.col("hops").cast("long").alias("hops")))


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly remove nodes with degree
    < ``k`` (degrees recomputed over the SURVIVING subgraph each
    round). After enough rounds the survivors are exactly the k-core —
    the densest near-dup neighborhoods, i.e. boilerplate/template
    families a degree threshold alone overcounts (a hub's neighbors
    inflate its degree even when they are not mutually dense).

    The round count is a LITERAL (not run-to-fixpoint) so the
    differential oracle can unroll it — ``rounds`` is an upper bound;
    real near-dup graphs converge in a few rounds because each round
    strips a whole fringe layer. Same lineage discipline as
    :func:`bfs_hops`: the edge list checkpoints once, survivors
    checkpoint per round; per-round cost is one degree aggregation +
    two semi-joins — (node, degree) shuffles only.

    OUTPUT CONTRACT: ``in_kcore`` means "survived ``rounds`` peels",
    which equals true k-core membership only once the peeling has
    converged (a round removes nothing). ``tests/test_round5_ops.py``
    asserts convergence at every shipped SF by checking rounds and
    rounds+1 produce identical output; callers on deeper graphs should
    do the same or raise ``rounds``. Self-loops are dropped and
    duplicate edges collapsed here (degree = COUNT(*) over the distinct
    symmetric edge list), so multigraph input cannot inflate degrees.

    Output: (node, core_degree, in_kcore) over ALL nodes of the input
    edge list; ``core_degree`` is the node's degree inside the
    surviving subgraph after the final round (0 for peeled nodes).
    """
    # lazy checkpoints (r8): truncate the per-round logical plan (the
    # round-h frame is referenced by the degree pass AND both semi-join
    # probes) without forcing a blocking job per round — every
    # checkpointed frame sits above a shuffle (dropDuplicates /
    # distinct / the semi-join exchanges), so stage-level shuffle reuse
    # serves repeat readers. Same move as bfs_hops; see its docstring.
    with CheckpointScope(edges.sparkSession) as scope:
        sym = scope.checkpoint(
            edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
            .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("t")))
            .where(F.col("s") != F.col("t"))
            .dropDuplicates(["s", "t"])
        )
        all_nodes = scope.checkpoint(sym.select(F.col("s").alias("node")).distinct())
        live = sym
        for _ in range(int(rounds)):
            keep = (
                live.groupBy("s")
                .agg(F.count(F.lit(1)).alias("deg"))
                .where(F.col("deg") >= k)
                .select(F.col("s").alias("kn"))
            )
            live = scope.checkpoint(
                live.join(keep.withColumnRenamed("kn", "s"), "s", "left_semi")
                .join(keep.select(F.col("kn").alias("t")), "t", "left_semi")
            )
        final_deg = live.groupBy("s").agg(F.count(F.lit(1)).alias("fdeg"))
        return scope.keep(
            all_nodes.join(
                final_deg.select(F.col("s").alias("node"), F.col("fdeg")), "node", "left"
            ).select(
                "node",
                F.coalesce("fdeg", F.lit(0)).cast("long").alias("core_degree"),
                (F.coalesce("fdeg", F.lit(0)) >= k).alias("in_kcore"),
            )
        )


def _hits_replay(arc_rows, iters: int, prec: int) -> list[tuple]:
    """Small-graph fast path for :func:`hits_scores`: the identical
    recurrence over the collected arc list, sorted node and arc orders
    (run-to-run identical float accumulation — the
    :func:`_rank_replay` rationale). Returns ``(node, hub, authority)``
    rows."""
    arcs = sorted(arc_rows, key=lambda r: (r.src, r.dst))
    nodes = sorted({r.src for r in arcs} | {r.dst for r in arcs})
    n = len(nodes)
    hub = {v: 1.0 / n for v in nodes}
    auth = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        na = {v: 0.0 for v in nodes}
        for r in arcs:
            na[r.dst] += hub[r.src] * r.w
        sa = sum(na[v] for v in nodes)
        auth = {v: (na[v] / sa if sa > 0 else 0.0) for v in nodes}
        nh = {v: 0.0 for v in nodes}
        for r in arcs:
            nh[r.src] += auth[r.dst] * r.w
        sh = sum(nh[v] for v in nodes)
        hub = {v: (nh[v] / sh if sh > 0 else 0.0) for v in nodes}
    return [(v, round(hub[v], prec) + 0.0, round(auth[v], prec) + 0.0) for v in nodes]


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iters: int = 10,
    prec: int = 6,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Kleinberg HITS over a weighted arc list: mutually-recursive hub
    and authority scores (``auth ← Σ_in hub·w``, then ``hub ← Σ_out
    auth·w``), L1-normalized after each half-step so both vectors stay
    probability-shaped for the differential gate. A DIFFERENT ranking
    kernel from PageRank — no teleport, no dangling mass, and the two
    scores separate "states that feed important states" (hubs) from
    "states important flows land on" (authorities), which one PageRank
    score conflates.

    Same size-adaptive strategy and arc list as :func:`pagerank`: ≤
    ``driver_threshold`` arcs run the fixed recurrence as a sorted
    driver loop; above it, each half-step is one hash join + keyed
    aggregation over ``(node, score)`` pairs against the once-placed
    arc list, the L1 norm is a 1-row broadcast scalar, and
    ``localCheckpoint`` truncates lineage per round. Multi-edges are
    collapsed by summing weights; fixed ``iters`` keeps both the job
    count and the oracle unroll bounded.
    """
    spark = edges.sparkSession
    with CheckpointScope(spark) as scope:
        arcs, rows = _switch(
            scope, _arcs(edges, src, dst, weight_col).repartition("src"), driver_threshold
        )
        nodes = _nodes(arcs)
        if rows is not None:
            return _result(
                spark, nodes, "hub double, authority double", _hits_replay(rows, iters, prec)
            )
        nodes = scope.pin(nodes)
        n_nodes = nodes.count()
        hub = auth = scope.checkpoint(nodes.select("node", F.lit(1.0 / n_nodes).alias("s")))

        def _half_step(scores: DataFrame, key_in: str, key_out: str) -> DataFrame:
            """One HITS half-step: push `scores` across arcs from key_in
            to key_out, L1-normalize, return the new (node, s) frame."""
            agg = (
                arcs.join(scores.withColumnRenamed("node", key_in), key_in)
                .groupBy(F.col(key_out).alias("node"))
                .agg(F.sum(F.col("s") * F.col("w")).alias("m"))
            )
            total = agg.agg(F.coalesce(F.sum("m"), F.lit(0.0)).alias("t"))
            return scope.checkpoint(
                nodes.join(agg, "node", "left")
                .crossJoin(F.broadcast(total))
                .select(
                    "node",
                    F.when(
                        F.col("t") > 0,
                        F.coalesce(F.col("m"), F.lit(0.0)) / F.col("t"),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("s"),
                )
            )

        for it in range(iters):
            auth = _half_step(hub, "src", "dst")
            hub = _half_step(auth, "dst", "src")
            # Batched invariant probe (every PROBE_EVERY rounds + final):
            # the vector stays L1-normalized — OR collapses to exactly
            # zero (all-zero weights), which the driver fast path also
            # yields (``sa > 0 else 0.0``). The L1 normalization itself
            # is a broadcast scalar INSIDE each half-step's plan, not
            # this probe, so skipping the probe changes no arithmetic;
            # it only drops a per-round job + full score-frame pass +
            # driver barrier (same argument as pagerank). ValueError,
            # not assert, so the check survives ``python -O`` and
            # degenerate graphs behave identically on both sides of the
            # size split.
            if (it + 1) % PROBE_EVERY == 0 or it == iters - 1:
                s = hub.agg(F.sum("s")).collect()[0][0]
                if s != 0.0 and abs(s - 1.0) >= 1e-6:
                    raise ValueError(f"hub mass drifted: {s}")
        return scope.keep(
            hub.withColumnRenamed("s", "h")
            .join(auth.withColumnRenamed("s", "a"), "node")
            .select(
                "node",
                F.round(F.col("h"), prec).alias("hub"),
                F.round(F.col("a"), prec).alias("authority"),
            )
        )
