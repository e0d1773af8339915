"""Duplicate-cluster resolution: near-dup PAIRS → connected components
→ one representative per cluster.

This is the last stage of the web-scale dedup recipe (exact → MinHash
candidates → verified pairs → **components** → keep-list): pairwise
output alone over-removes (A~B, B~C must collapse to ONE keeper even
when A~C wasn't emitted). No counterpart in the reference (pandas,
single table — ``data_consistency_checks.py`` has no dedup at all);
this is a BASELINE.json training-data-pipeline extension.

Scale design: iterative min-label propagation over the edge list —
each round is one keyed aggregation (min over neighbors' labels) and
one join, both shuffling (node, label) pairs only; rounds needed =
graph diameter. Duplicate clusters in real corpora are shallow (near
-clique — diameter ≤ 3-4), so this converges in a handful of rounds;
for adversarial chain-shaped graphs use
:func:`connected_components_star` (Kiveris et al., SoCC'14), which
converges in O(log² n) rounds with the same per-round shuffle shape.
Each round's lineage is truncated with a checkpoint, and a label-sum
probe tells the driver when the fixed point is reached.

Every operator here runs on the skeleton of :mod:`.graph`: one
``CheckpointScope`` per call, the size switch ``graph._switch`` (driver
union-find / dict loop at or under ``driver_threshold`` edges), driver
and empty results built by ``graph._result`` (``node`` and
``cluster_id``/``label`` typed like the input ids), and one exit that
frees every pin and round checkpoint except the kept result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators.graph import (
    _nodes,
    _result,
    _switch,
)
from data_quality_checks_in_relational_database_spark.session import CheckpointScope

#: Convergence-probe cadence of :func:`connected_components`: every
#: round for the first PROBE_WARMUP rounds, then every PROBE_STRIDE.
PROBE_WARMUP = 2
PROBE_STRIDE = 4


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Label every node in the pair graph with its component's minimum
    id. Output: ``(node, cluster_id)`` — one row per node that appears
    in at least one pair, both typed like the input ids.

    Min-label propagation: ``label(v) ← min(label(v), min over
    neighbors' labels)`` until a fixed point. Exact (no approximation);
    raises if ``max_iter`` rounds don't converge rather than returning
    a partial labeling.

    Size-adaptive through :func:`.graph._switch` (the broadcast-join-
    threshold pattern applied to iteration): the edge list is the
    OUTPUT of the dedup funnel — after banding + exact verification it
    is orders of magnitude smaller than the corpus. At or under
    ``driver_threshold`` edges the labeling runs as a driver-side
    union-find (one count + one collect, microseconds of driver work)
    with identical output. Above the threshold the distributed
    min-label loop runs; that path is the 100 TB contract.
    """
    spark = pairs.sparkSession
    with CheckpointScope(spark) as scope:
        # The pair list is referenced 4× below (forward + reversed
        # edges, each unioned with self-loops derived from them); pairs
        # usually arrive as an EXPENSIVE lineage (a whole LSH pipeline),
        # and union branches do not share subexpression results — the
        # switch pins the tiny (id, id) projection and fills it in its
        # own job BEFORE any self-referencing union reads it (left to
        # the 4-branch union, the branches hit the unfilled cache
        # concurrently and serialize on block locks: measured 2-6×
        # run-to-run variance, up to 18 s for a 256-edge graph).
        edges, rows = _switch(
            scope,
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            driver_threshold,
        )
        if rows is not None:
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                a, b = r.src, r.dst
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min keeps the invariant root == component min
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            out = [(n, find(n)) for n in parent]
            return _result(spark, _nodes(edges), "cluster_id {id}", out)
        both = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # Self-loops make each round a SINGLE join against the previous
        # labels: new_label(v) = min over {labels of v's neighbors} ∪
        # {label of v} collapses to one edge⋈label aggregation.
        nodes = both.select("src").distinct()
        sym = scope.pin(both.unionByName(nodes.select("src", F.col("src").alias("dst"))))

        # Lineage MUST be truncated every round (localCheckpoint — the
        # plan becomes a flat LogicalRDD). Mere persist() keeps the full
        # logical chain, and Catalyst's analysis/constraint propagation
        # over a depth-k self-join chain blows up super-linearly —
        # observed driver heap OOM near round ~10 on a 12-node toy
        # graph. On clusters with executor churn use reliable
        # checkpoint() instead (fault-tolerant, slower). The scope frees
        # every round's checkpoint once the result is kept.

        def _label_sum(df: DataFrame):
            # one-job materialize-and-probe: per-node min labels only
            # ever DECREASE, so the global label sum is strictly
            # decreasing until the fixed point — comparing sums replaces
            # a whole join-and-count convergence job with a scalar agg
            # on the same pass that fills the (lazy) checkpoint.
            # decimal(38,0) keeps the sum exact for any realistic id
            # magnitude × node count.
            return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

        # Convergence-probe cadence: the label-sum probe is one
        # scheduled job + a full pass over the node frame + a driver
        # barrier PER ROUND. Because per-node min labels only ever
        # DECREASE, equal sums at ANY two probe rounds t1 < t2 prove
        # every round in between was already the fixed point (the sums
        # are monotone non-increasing, so equal endpoints pin the whole
        # chain) — probes need not be consecutive rounds. Schedule: every round for the
        # first PROBE_WARMUP rounds (typical near-dup graphs have tiny
        # diameter, so convergence is usually caught here with ZERO
        # wasted propagation rounds), then every PROBE_STRIDE rounds
        # (long-chain graphs stop paying a barrier per round; worst case
        # PROBE_STRIDE-1 extra propagation rounds past the fixed point,
        # each an idempotent no-change join). Probes at max_iter-1 and
        # max_iter are always included, which makes the raise contract
        # EXACTLY the eager schedule's: converged iff the fixed point is
        # reached by round max_iter-1. (PROBE_STRIDE=1 reproduces the
        # probe-every-round schedule bit for bit.)
        probe_rounds = set(range(1, min(PROBE_WARMUP, max_iter) + 1))
        r = PROBE_WARMUP
        while r < max_iter:
            r += PROBE_STRIDE
            probe_rounds.add(min(r, max_iter))
        probe_rounds.add(max(max_iter - 1, 1))
        probe_rounds.add(max_iter)

        labels = scope.checkpoint(  # lazy: materialized by the sum job
            sym.groupBy("src")
            .agg(F.min("dst").alias("label"))
            .select(F.col("src").alias("node"), "label")
        )
        prev_sum = _label_sum(labels)
        for t in range(1, max_iter + 1):
            labels = scope.checkpoint(
                sym.join(labels.withColumnRenamed("node", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("label").alias("label"))
                .select(F.col("src").alias("node"), "label")
            )
            if t not in probe_rounds:
                # unprobed round: lineage is still truncated (LogicalRDD
                # at call time) and its stages still run exactly once —
                # blocks are saved on first compute inside the next
                # probe's job
                continue
            new_sum = _label_sum(labels)
            if new_sum == prev_sum:
                return scope.keep(labels.select("node", F.col("label").alias("cluster_id")))
            prev_sum = new_sum
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
) -> DataFrame:
    """Cluster report over near-dup pairs: ``(doc_id, cluster_id,
    cluster_size, is_representative)``.

    ``cluster_id`` is the component's min doc id; the representative is
    that same doc (deterministic keep-first, matching
    :func:`~.dedup.dedup_exact`'s convention). Docs in no pair are not
    emitted — at the pipeline level they are trivially their own
    keepers and carrying them through the component join would shuffle
    the whole corpus for no information.
    """
    comp = connected_components(pairs, id_a, id_b)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "cluster_id")
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            "cluster_size",
            (F.col("node") == F.col("cluster_id")).alias("is_representative"),
        )
    )


def quality_representatives(
    pairs: DataFrame,
    quality: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Cluster report where the keeper is the HIGHEST-QUALITY member,
    not the smallest id: ``(doc_id, cluster_id, cluster_size, quality,
    is_representative)``.

    min-id keep-first (``dedup_clusters``) is arbitrary; real corpus
    curation keeps the best member of each near-dup cluster (longest /
    highest LM score / freshest). ``quality`` is ``(doc_id, <quality>)``
    — any deterministic score. The winner is argmax(quality), ties
    broken by min doc id, so the output is unique and engine-portable.

    Shape: component labels (node, cluster_id) join the score on doc id
    (one hash join), then one keyed window pass per cluster ranks
    members — both shuffles carry (id, label, score) triples only.
    """
    comp = connected_components(pairs, id_a, id_b)
    scored = comp.join(
        quality.select(F.col(id_col).alias("node"), quality_col), "node"
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col(quality_col).desc(), F.col("node").asc())
    )
    sizes = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", sizes)
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            "cluster_size",
            F.col(quality_col).alias("quality"),
            (F.col("rn") == 1).alias("is_representative"),
        )
    )


def removal_list(clusters: DataFrame) -> DataFrame:
    """Doc ids to DROP: every cluster member except its representative.
    The complement ("keep-list") is the full corpus anti-joined with
    this — cheaper to materialize the small side."""
    return clusters.filter(~F.col("is_representative")).select("doc_id")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log² n)-round variant the min-label
    loop's docstring defers to for adversarial (deep-chain) graphs,
    where plain label propagation needs diameter rounds.

    Implementation is purely relational (no collect_set): each round is
    two [groupBy-min + join + filter] passes over the edge list; the
    shuffle carries (node, node) pairs only.

    - large-star: every node's LARGER neighbors re-attach to its
      current minimum (min over Γ(u) ∪ {u});
    - small-star: with edges keyed by their larger endpoint, the
      smaller neighbors (and the key itself) re-attach to the minimum.

    Fixed point: every edge is (node → component-min); labels read off
    directly. Convergence is detected by an (edge-count, xxhash64-sum)
    multiset signature — one scalar agg on the pass that fills each
    round's checkpoint. Output: ``(node, cluster_id)``, identical
    contract to :func:`connected_components`.
    """

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # canonical orientation: key = larger endpoint
        canon = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        m = canon.groupBy("u").agg(F.min("v").alias("m"))
        attach_smaller = (
            canon.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        attach_key = m.select(F.col("u"), F.col("m").alias("v"))
        return attach_smaller.unionByName(attach_key).distinct()

    def _sig(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    with CheckpointScope(pairs.sparkSession) as scope:
        edges = scope.checkpoint(
            pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        prev = _sig(edges)
        for _ in range(max_iter):
            edges = scope.checkpoint(_small_star(_large_star(edges)))
            cur = _sig(edges)
            if cur == prev:
                # fixed point = star edges (node -> component min); the
                # min itself labels itself
                return scope.keep(
                    edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
                    .unionByName(
                        edges.select(F.col("v").alias("node"), F.col("v").alias("cluster_id"))
                    )
                    .groupBy("node")
                    .agg(F.min("cluster_id").alias("cluster_id"))
                )
            prev = cur
        raise RuntimeError(f"connected_components_star did not converge in {max_iter} rounds")


def label_propagation(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    rounds: int = 4,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Synchronous label propagation over the pair graph, a FIXED
    number of rounds: every node starts as its own label; each round
    adopts the most frequent label among its neighbors' PREVIOUS-round
    labels (ties → smallest label). Output ``(node, label)`` for every
    node appearing in at least one pair. Deterministic by construction
    (integer counts, min-label ties, synchronous update). Synchronous
    LP can OSCILLATE on bipartite structures (a lone edge swaps labels
    every round); the fixed round count keeps even that case
    deterministic — callers wanting a stable fixed point should treat
    the round count as part of the contract.

    Size-adaptive through :func:`.graph._switch`, same rationale as
    :func:`connected_components`: at or under ``driver_threshold``
    edges the rounds run as a driver dict loop; above it, each round is
    one equi-join + keyed count + per-node window with
    ``localCheckpoint`` lineage truncation — the 100 TB contract.
    """
    from collections import Counter

    spark = pairs.sparkSession
    with CheckpointScope(spark) as scope:
        edges, rows = _switch(
            scope,
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            driver_threshold,
        )
        if rows is not None:
            nbrs: dict[int, list[int]] = {}
            for r in rows:
                nbrs.setdefault(r.src, []).append(r.dst)
                nbrs.setdefault(r.dst, []).append(r.src)
            labels = {n: n for n in nbrs}
            for _ in range(rounds):
                labels = {
                    n: min(
                        (c for c in Counter(labels[x] for x in nb).items()),
                        key=lambda kv: (-kv[1], kv[0]),
                    )[0]
                    for n, nb in nbrs.items()
                }
            return _result(spark, _nodes(edges), "label {id}", labels.items())
        # lazy checkpoints (r8): the round count is FIXED (no
        # convergence probe needs a per-round materialization), so
        # truncate each round's logical plan without a blocking job —
        # the window's exchange above each round serves the next
        # round's join via shuffle reuse inside one scheduled action.
        # See graph.bfs_hops.
        both = scope.checkpoint(
            edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        )
        labels_df = both.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        w = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("label").asc())
        for _ in range(rounds):
            nb = both.join(labels_df, both.dst == labels_df.node).select("src", "label")
            counts = nb.groupBy("src", "label").agg(F.count(F.lit(1)).alias("c"))
            labels_df = scope.checkpoint(
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("src").alias("node"), "label")
            )
        return scope.keep(labels_df)
