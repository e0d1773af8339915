"""Round-9 optimization pins.

Plan/semantics pins for the r9 changes: batched iterative-loop probes
(same labels/ranks, fewer probe jobs; the cadences are module
constants, set here through ``monkeypatch``),
``keep_cols`` pass-through that refuses duplicate output names, the
one-scan split-cohort
two-sample counts (row-identical to the two-filter + full-outer form,
including NULL-predicate rows), and the operator-internal persist
footprint (a bench-style sweep releases everything the pinned
operators registered).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators import cluster, dedup, graph, text
from data_quality_checks_in_relational_database_spark.streaming import dedup as stream_dedup


def _sweep(spark) -> None:
    """bench.py's between-query hygiene: DataFrame cache + every
    persistent RDD (operator-internal persists, localCheckpoints)."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pinned_operators_footprint_sweepable(spark):
    """Two operators back-to-back register persistent blocks: tfidf's
    kept (checkpointed) result, and covariance_long's pins, which back
    the frame it returns lazily; one bench-style sweep must release
    every one of them — nothing the operators register survives the
    caller's documented hygiene."""
    from data_quality_checks_in_relational_database_spark.operators.linalg import (
        covariance_long,
    )
    from data_quality_checks_in_relational_database_spark.operators.text import (
        tfidf_cosine_pairs,
    )

    _sweep(spark)
    assert _n_persistent(spark) == 0

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta " * 3 + f"tail{i % 3}")
         for i in range(12)],
        schema="doc_id long, text string",
    )
    tfidf_cosine_pairs(docs, n=3).count()
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7), 1.0]) for i in range(40)],
        schema="id long, embedding array<double>",
    )
    covariance_long(emb).count()
    assert _n_persistent(spark) > 0  # the pins are real
    _sweep(spark)
    assert _n_persistent(spark) == 0  # and fully releasable


def test_tfidf_empty_corpus_releases_pin(spark):
    """The n_docs == 0 early return leaves the operator's scope, which
    frees the tf pin: no empty-but-registered cache entry is left."""
    from data_quality_checks_in_relational_database_spark.operators.text import (
        tfidf_cosine_pairs,
    )

    _sweep(spark)
    empty = spark.createDataFrame([], schema="doc_id long, text string")
    assert tfidf_cosine_pairs(empty).count() == 0
    assert _n_persistent(spark) == 0


def test_split_two_sample_counts_equal_joined_form(spark):
    """The one-scan split-cohort counts must be row-identical to the
    two-filter + full-outer form on an adversarial frame: NULL values,
    NULL predicates (belong to NEITHER cohort), and values present on
    only one side (exact 0, not NULL, for the absent side)."""
    from data_quality_checks_in_relational_database_spark.operators.diff import (
        _two_sample_counts_joined,
        _two_sample_counts_split,
    )

    rows = [
        (1.0, True),
        (1.4, True),   # rounds into 1.0's bucket
        (2.0, False),
        (2.0, True),
        (3.0, False),  # one-sided value
        (None, True),  # NULL value dropped on both paths
        (4.0, None),   # NULL predicate: in NEITHER cohort
        (9.0, None),   # value that exists ONLY via NULL-predicate rows
    ]
    df = spark.createDataFrame(rows, schema="v double, flag boolean")
    cond = F.col("flag")
    joined = _two_sample_counts_joined(
        df.filter(cond), df.filter(~cond), "v", 0
    )
    split = _two_sample_counts_split(df, cond, "v", 0)
    assert joined.schema == split.schema
    got_j = sorted(map(tuple, joined.collect()))
    got_s = sorted(map(tuple, split.collect()))
    assert got_j == got_s
    # and the grid really dropped the NULL-predicate-only value
    assert all(r[0] != 9.0 for r in got_s)


@pytest.mark.parametrize("probe_every", [1, 3])
def test_pagerank_distributed_probe_cadence_identical(spark, monkeypatch, probe_every):
    """Batched invariant probes must not change the distributed loop's
    output — PROBE_EVERY=1 is the old per-round schedule."""
    from data_quality_checks_in_relational_database_spark.operators.graph import (
        pagerank,
    )

    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0), ("c", "d", 3.0)],
        schema="src string, dst string, w double",
    )
    monkeypatch.setattr(graph, "PROBE_EVERY", probe_every)
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, weight_col="w", driver_threshold=0).collect()
    }
    want = {
        r["node"]: r["rank"]
        for r in pagerank(edges, weight_col="w").collect()  # driver path
    }
    assert got == want
    _sweep(spark)


def test_connected_components_stride_probe_identical_and_fewer_jobs(spark, monkeypatch):
    """The warmup-then-stride convergence probing must label a deep
    chain identically to per-round probing, with strictly fewer probe
    jobs (the job-group count is the measurable artifact)."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        connected_components,
    )

    # deep chain (diameter 18): long enough that the stride's saved
    # probe jobs dominate the ≤stride-1 overshoot rounds' stage jobs
    # (the forced-distributed A/B measured 83 -> 69 jobs on this graph;
    # at diameter ~12 the two effects cancel exactly)
    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(18)], schema="doc_id_a long, doc_id_b long"
    )
    sc = spark.sparkContext
    out, jobs = {}, {}
    monkeypatch.setattr(cluster, "PROBE_WARMUP", 2)
    for lbl, stride in (("old", 1), ("new", 4)):
        monkeypatch.setattr(cluster, "PROBE_STRIDE", stride)
        group = f"cc-cadence-{lbl}"
        sc.setJobGroup(group, group)
        out[lbl] = sorted(
            map(tuple, connected_components(chain, driver_threshold=0).collect())
        )
        jobs[lbl] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
        _sweep(spark)
    assert out["old"] == out["new"]
    assert jobs["new"] < jobs["old"], jobs


def test_nonconvergence_raise_contract_survives_stride(spark, monkeypatch):
    """PROBE_STRIDE > 1 must not weaken the raise contract: a chain
    that cannot converge within max_iter still raises (probes at
    max_iter-1 and max_iter reproduce the eager schedule's verdict)."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(10)], schema="doc_id_a long, doc_id_b long"
    )
    monkeypatch.setattr(cluster, "PROBE_WARMUP", 2)
    monkeypatch.setattr(cluster, "PROBE_STRIDE", 4)
    _sweep(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3, driver_threshold=0)
    assert _n_persistent(spark) == 0  # the raise freed every pin and round
    _sweep(spark)


@pytest.mark.parametrize("bad", ["doc_id", "n_tokens", "score", "keep"])
def test_hashed_linear_score_rejects_clashing_keep_cols(spark, bad):
    from data_quality_checks_in_relational_database_spark.operators.text import (
        hashed_linear_score,
    )

    docs = spark.createDataFrame(
        [(1, "a b", "en", 0.5)], schema="doc_id long, text string, lang string, score double"
    )
    with pytest.raises(ValueError, match=bad):
        hashed_linear_score(docs, keep_cols=["lang", bad])
    assert hashed_linear_score(docs, keep_cols=["lang"]).columns == [
        "doc_id", "lang", "n_tokens", "score", "keep",
    ]


def test_label_propagation_distributed_frees_round_checkpoints(spark):
    """The distributed rounds' lazy checkpoints and the edge cache are
    released once the result is checkpointed; at most the result's own
    RDD stays registered, and it still reads correctly."""
    _sweep(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], schema="doc_id_a long, doc_id_b long"
    )
    before = _n_persistent(spark)
    got = cluster.label_propagation(pairs, rounds=4, driver_threshold=0).collect()
    assert _n_persistent(spark) - before <= 1
    want = cluster.label_propagation(pairs, rounds=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    _sweep(spark)


_GRAPH = [(1, 2), (2, 3), (3, 1), (1, 4), (5, 6)]

# every iterative operator, on both sides of its size switch where it
# has one; each call takes (pairs as doc_id_a/doc_id_b, seeds) + kwargs.
# Two rounds each: what a call leaves cached does not depend on how many.
_ITERATIVE = {
    "components": lambda p, s, **kw: cluster.connected_components(p, **kw),
    "components_star": lambda p, s, **kw: cluster.connected_components_star(p),
    "label_propagation": lambda p, s, **kw: cluster.label_propagation(p, rounds=2, **kw),
    "pagerank": lambda p, s, **kw: graph.pagerank(p, "doc_id_a", "doc_id_b", iters=2, **kw),
    "ppr": lambda p, s, **kw: graph.personalized_pagerank(
        p, s, "doc_id_a", "doc_id_b", iters=2, **kw
    ),
    "hits": lambda p, s, **kw: graph.hits_scores(p, "doc_id_a", "doc_id_b", iters=2, **kw),
    "bfs_hops": lambda p, s, **kw: graph.bfs_hops(
        p, s, max_hops=2, src="doc_id_a", dst="doc_id_b"
    ),
    "kcore_peel": lambda p, s, **kw: graph.kcore_peel(
        p, k=2, rounds=2, src="doc_id_a", dst="doc_id_b"
    ),
}
_SWITCHLESS = {"components_star", "bfs_hops", "kcore_peel"}


@pytest.mark.parametrize(
    "op, path",
    [
        (op, path)
        for op in sorted(_ITERATIVE)
        for path in ("default", "forced_distributed")
        if path == "default" or op not in _SWITCHLESS
    ],
)
def test_iterative_operator_leaves_only_its_result_cached(spark, op, path):
    """After a sweep, one call plus its collect leaves at most the one
    persistent RDD backing the result: every pin and round checkpoint
    the call made is freed before it returns."""
    _sweep(spark)
    pairs = spark.createDataFrame(_GRAPH, "doc_id_a long, doc_id_b long")
    seeds = spark.createDataFrame([(1,)], "node long")
    kw = {"driver_threshold": 0} if path == "forced_distributed" else {}
    assert _ITERATIVE[op](pairs, seeds, **kw).collect()
    assert _n_persistent(spark) <= 1
    _sweep(spark)


# every pair operator over shingle sets; each call takes (corpus, a
# batch disjoint from it, a ledger root whose v0 holds the corpus) and
# returns its result frame, or None for the writers and the refusal.
def _refused(call) -> None:
    # 6 shared grams × C(20, 2) candidates > 5 per posting
    with pytest.raises(ValueError, match="max_doc_freq"):
        call()


_SHINGLE_PAIRS = {
    "minhash": lambda c, b, r: dedup.minhash_lsh_pairs(c),
    "minhash_bucket_cap": lambda c, b, r: dedup.minhash_lsh_pairs(c, max_bucket_size=4),
    "minhash_against": lambda c, b, r: dedup.minhash_lsh_pairs_against(b, c),
    "minhash_against_ledger": lambda c, b, r: dedup.minhash_pairs_against_ledger(
        b, stream_dedup._version_dir(r, 0)
    ),
    "write_ledger": lambda c, b, r: dedup.write_minhash_ledger(c, f"{r}/fresh"),
    "ingest_batch": lambda c, b, r: stream_dedup.apply_ingest_batch(b, 1, r),
    "ngram_jaccard": lambda c, b, r: dedup.ngram_jaccard_pairs(c),
    "ngram_jaccard_capped": lambda c, b, r: dedup.ngram_jaccard_pairs(c, max_doc_freq=6),
    "containment": lambda c, b, r: dedup.containment_pairs(c),
    "prefix_filter": lambda c, b, r: dedup.prefix_filter_jaccard_pairs(c),
    "tfidf": lambda c, b, r: text.tfidf_cosine_pairs(c),
    "tfidf_over_budget": lambda c, b, r: _refused(
        lambda: text.tfidf_cosine_pairs(c, max_candidates_per_posting=5)
    ),
}
_NEEDS_LEDGER = {"minhash_against_ledger", "ingest_batch"}


@pytest.mark.parametrize("op", sorted(_SHINGLE_PAIRS))
def test_shingle_pair_operator_leaves_only_its_result_cached(spark, tmp_path, op):
    """After a sweep, one call plus its collect leaves no CacheManager
    entry and at most the one persistent RDD backing the result (none
    for the writers): every pin is freed before the call returns, and
    before a refused candidate budget propagates."""
    # 20 near-duplicates sharing 6 of their 7 trigrams (df = 20 < N, so
    # the shared grams keep a nonzero idf) and two outliers
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta tail{i % 4}") for i in range(20)]
        + [(100, "lorem ipsum dolor sit amet"), (101, "one two three four five")],
        "doc_id long, text string",
    )
    batch = corpus.where("doc_id < 4").selectExpr("doc_id + 200 AS doc_id", "text")
    root = str(tmp_path / "ledger")
    if op in _NEEDS_LEDGER:
        stream_dedup.apply_ingest_batch(corpus, 0, root)
    _sweep(spark)
    out = _SHINGLE_PAIRS[op](corpus, batch, root)
    if out is not None:
        out.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _n_persistent(spark) <= (0 if out is None else 1)
    _sweep(spark)
